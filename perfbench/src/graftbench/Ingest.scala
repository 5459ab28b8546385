package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{FrameGraph, MicMacEtl}
import graft.sources.XmlManifest

/** One generated MicMac document and the store rows it must add the
  * first time it is imported (a re-import adds none). `frames` is the
  * number of camera frames it poses, i.e. composed poses it adds. */
final case class Doc(kind: String, path: String, bytes: Long,
    sensors: Int, referentials: Int, transfos: Int, frames: Int)

/** Seeded corpus of orimatis orientations, blinis camera rigs and
  * autocal calibrations. Every rig arrives with an orimatis pose of its
  * base frame in the same batch, so the frame graph stays a forest that
  * reaches every camera from `world`. */
final class Corpus(dir: Path, seed: Long) {
  private val rnd = new Random(seed)
  private var seq = 0

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.12f", Double.box(d))
  private def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))

  private def write(kind: String, name: String, xml: String,
      referentials: Int, transfos: Int, frames: Int): Doc = {
    val p = dir.resolve(kind).resolve(name)
    Files.createDirectories(p.getParent)
    val b = xml.getBytes(UTF_8)
    Files.write(p, b)
    Doc(kind, p.toString, b.length, 1, referentials, transfos, frames)
  }

  /** A random rotation as a unit quaternion (x, y, z, w). */
  private def quat(): Array[Double] = {
    val q = Array.fill(4)(rnd.nextGaussian())
    val n = math.sqrt(q.map(x => x * x).sum)
    q.map(_ / n)
  }

  private def rot(q: Array[Double]): Array[Array[Double]] = {
    val Array(x, y, z, w) = q
    Array(
      Array(1 - 2 * (y * y + z * z), 2 * (x * y - z * w), 2 * (x * z + y * w)),
      Array(2 * (x * y + z * w), 1 - 2 * (x * x + z * z), 2 * (y * z - x * w)),
      Array(2 * (x * z - y * w), 2 * (y * z + x * w), 1 - 2 * (x * x + y * y)))
  }

  private def row(r: Array[Double]): String = r.map(fmt).mkString(" ")

  def orimatis(sensor: String): Doc = {
    seq += 1
    val q = quat()
    val rotation =
      if (rnd.nextBoolean())
        s"""<quaternion><x>${fmt(q(0))}</x><y>${fmt(q(1))}</y><z>${fmt(q(2))}</z><w>${fmt(q(3))}</w></quaternion>"""
      else {
        val m = rot(q)
        s"<mat3d><l1>${row(m(0))}</l1><l2>${row(m(1))}</l2><l3>${row(m(2))}</l3></mat3d>"
      }
    val i2g = pick("<Image2Ground>true</Image2Ground>",
      "<Image2Ground>false</Image2Ground>", "")
    val (w, hgt) = pick((3072, 2048), (4096, 3072), (5472, 3648))
    val intr =
      if (rnd.nextInt(5) > 0)
        s"""<sensor><name>$sensor</name><image_size><width>$w</width><height>$hgt</height></image_size>
           |<ppa><c>${fmt(w / 2.0 + rnd.nextGaussian())}</c><l>${fmt(hgt / 2.0 + rnd.nextGaussian())}</l>
           |<focale>${fmt(3000 + 200 * rnd.nextDouble())}</focale></ppa></sensor>""".stripMargin
      else
        s"""<spherique><name>$sensor</name><image_size><width>$w</width><height>$hgt</height></image_size>
           |<ppa><c>${fmt(w / 2.0)}</c><l>${fmt(hgt / 2.0)}</l></ppa>
           |<frame><lambda_min>-3.141592653590</lambda_min><lambda_max>3.141592653590</lambda_max>
           |<phi_min>-1.570796326795</phi_min><phi_max>1.570796326795</phi_max></frame></spherique>""".stripMargin
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<orientation><version>1.0</version><geometry>
         |<intrinseque>$intr</intrinseque>
         |<extrinseque><systeme>Lambert93</systeme>
         |<sommet><easting>${fmt(650000 + 5000 * rnd.nextDouble())}</easting>
         |<northing>${fmt(6860000 + 5000 * rnd.nextDouble())}</northing>
         |<altitude>${fmt(100 + 50 * rnd.nextDouble())}</altitude></sommet>
         |<rotation>$i2g$rotation</rotation></extrinseque>
         |</geometry></orientation>
         |""".stripMargin
    write("orimatis", f"ori_$seq%07d.xml", xml, 3, 2, 1)
  }

  def blinis(rig: String): Doc = {
    seq += 1
    val cams = 3 + rnd.nextInt(4)
    val arms = (0 until cams).map { c =>
      val m = rot(quat())
      val t = Array.fill(3)(rnd.nextGaussian() * 0.5)
      f"""<ParamOrientSHC><IdGrp>cam_$c%02d</IdGrp><Vecteur>${row(t)}</Vecteur>
         |<Rot><CodageMatr><L1>${row(m(0))}</L1><L2>${row(m(1))}</L2><L3>${row(m(2))}</L3></CodageMatr></Rot>
         |</ParamOrientSHC>""".stripMargin
    }.mkString("\n")
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<StructBlockCam><KeyIm2TimeCam>$rig</KeyIm2TimeCam>
         |<LiaisonsSHC>
         |$arms
         |</LiaisonsSHC></StructBlockCam>
         |""".stripMargin
    write("blinis", f"blinis_$seq%07d.xml", xml, cams + 1, cams, cams)
  }

  def autocal(): Doc = {
    seq += 1
    val dist =
      if (rnd.nextBoolean())
        s"""<ModRad><CDist>1536.0 1024.0</CDist>
           |<CoeffDist>${fmt(-1.25e-4 * rnd.nextDouble())}</CoeffDist>
           |<CoeffDist>${fmt(3.75e-8 * rnd.nextDouble())}</CoeffDist></ModRad>""".stripMargin
      else
        s"""<ModPhgrStd><RadialePart><CDist>1536.0 1024.0</CDist>
           |<CoeffDist>${fmt(-1.25e-4 * rnd.nextDouble())}</CoeffDist></RadialePart>
           |<P1>${fmt(1.5e-6 * rnd.nextDouble())}</P1><P2>${fmt(-2.5e-6 * rnd.nextDouble())}</P2>
           |<b1>${fmt(1.2e-4 * rnd.nextDouble())}</b1><b2>${fmt(-3.4e-4 * rnd.nextDouble())}</b2></ModPhgrStd>""".stripMargin
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<ExportAPERO><CalibrationInternConique>
         |<KnownConv>eConvApero_DistM2C</KnownConv>
         |<PP>${fmt(1520 + rnd.nextDouble() * 10)} ${fmt(1010 + rnd.nextDouble() * 10)}</PP>
         |<F>${fmt(3000 + rnd.nextDouble() * 100)}</F>
         |<SzIm>3072 2048</SzIm>
         |<CalibDistortion>$dist</CalibDistortion>
         |</CalibrationInternConique></ExportAPERO>
         |""".stripMargin
    write("autocal", f"autocal_$seq%07d.xml", xml, 3, 3, 0)
  }

  private var rigs = 0
  private var cams = 0

  /** `n` documents never seen before: about a quarter of them rigs, each
    * with the pose of its base frame, one autocal per 50, and the rest
    * single posed cameras. */
  def fresh(n: Int): Seq[Doc] = {
    val autocals = math.max(1, n / 50)
    val rigPairs = n / 8
    val singles = n - autocals - 2 * rigPairs
    val docs = mutable.ArrayBuffer.empty[Doc]
    (0 until rigPairs).foreach { _ =>
      rigs += 1
      val rig = f"rig_$rigs%05d"
      docs += blinis(rig)
      docs += orimatis(s"$rig/base")
    }
    (0 until singles).foreach { _ => cams += 1; docs += orimatis(f"cam_$cams%06d") }
    (0 until autocals).foreach(_ => docs += autocal())
    docs.toSeq
  }
}

/** The paper's import path, one batch per op: fetch the batch's XML
  * through `XmlManifest.readXml`, import it with `MicMacEtl.import*Xml`,
  * give rows surrogate ids and get-or-create them against the store on
  * their natural keys, append what is new to the `graftlines` store,
  * then read the transfos back, validate the frame tree and compose
  * every pose from `world`. */
final class Ingest(h: Harness, storeDir: String) {
  import Ingest._
  private val spark = h.spark
  import spark.implicits._

  // rows the store must hold, from the corpus bookkeeping
  private val expected = mutable.Map("sensors" -> 0L, "referentials" -> 0L, "transfos" -> 0L)
  private var posesExpected = 0L
  private val imported = mutable.LinkedHashMap.empty[String, Doc]
  def importedDocs: Seq[Doc] = imported.values.toSeq

  private def table(name: String): String = s"$storeDir/$name"

  private def existing(name: String): DataFrame = {
    if (new java.io.File(table(name)).isDirectory) spark.read.format("graftlines").load(table(name))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas(name).add("id", LongType))
  }

  private def base(file: Column): Column = regexp_extract(file, "([^/]+)$", 1)

  /** The three importers' outputs in one shape per store table. */
  private def staging(xml: DataFrame): Map[String, DataFrame] = {
    def kind(k: String) = xml.filter(col("path").contains(s"/$k/"))
    val ori = MicMacEtl.importOrimatisXml(kind("orimatis"))
    val bli = MicMacEtl.importBlinisXml(kind("blinis"))
    val cal = MicMacEtl.importAutocalXml(kind("autocal"))
    val nul = lit(null)
    val sensors = ori("sensors").select(col("sensor_name").as("name"),
        lit("camera").as("kind"), col("flavor"), col("width"), col("height"))
      .unionByName(bli("sensors").select(col("rig").as("name"),
        lit("group").as("kind"), nul.cast(StringType).as("flavor"),
        nul.cast(IntegerType).as("width"), nul.cast(IntegerType).as("height")))
      .unionByName(cal("sensors").select(base(col("file")).as("name"),
        lit("calibration").as("kind"), nul.cast(StringType).as("flavor"),
        element_at(col("specifications")("image_size"), 1).cast(IntegerType).as("width"),
        element_at(col("specifications")("image_size"), 2).cast(IntegerType).as("height")))
    val referentials = ori("referentials")
        .select(col("sensor_name").as("owner"), col("referential").as("name"))
      .unionByName(bli("referentials").select(col("rig").as("owner"), col("cam").as("name")))
      .unionByName(cal("referentials")
        .select(base(col("file")).as("owner"), col("referential").as("name")))
    // graftlines stores atomic columns: parameter vectors of 3 to 12
    // doubles spread over m0..m11, NULL past their length
    def flat(v: Column) = (0 until 12).map(i => try_element_at(v, lit(i + 1)).as(s"m$i"))
    val affine = col("transfo_type") === "affine_mat4x3"
    val transfos = ori("transfos").select(Seq(base(col("file")).as("tree"),
        col("transfo_type").as("name"), col("transfo_type").as("type"),
        when(affine, lit("world")).otherwise(col("sensor_name")).as("src"),
        when(affine, col("sensor_name"))
          .otherwise(concat(col("sensor_name"), lit("/image"))).as("dst"))
        ++ flat(col("mat4x3")): _*)
      .unionByName(bli("transfos").select(Seq(base(col("file")).as("tree"),
        col("cam").as("name"), col("transfo_type").as("type"),
        concat(col("rig"), lit("/base")).as("src"),
        concat(col("rig"), lit("/"), col("cam")).as("dst")) ++ flat(col("mat4x3")): _*))
      .unionByName(cal("transfos").select(Seq(base(col("file")).as("tree"),
        col("transfo_name").as("name"), col("transfo_type").as("type"),
        col("source_ref").as("src"), col("target_ref").as("dst"))
        ++ flat(col("parameters")): _*))
    Map("sensors" -> sensors, "referentials" -> referentials, "transfos" -> transfos)
  }

  /** The frame graph of the store: every affine transfo is an edge. */
  private def edges(): DataFrame =
    spark.read.format("graftlines").load(table("transfos"))
      .filter(col("type") === "affine_mat4x3")
      .select(col("src"), col("dst"), array((0 until 12).map(i => col(s"m$i")): _*).as("mat4x3"))

  /** One batch. Re-imports are documents already in the store. The op
    * time is the sum of the timed phases; deriving the append from the
    * upsert's output and the output checks are not timed. */
  def batch(label: String, docs: Seq[Doc]): OpResult = {
    docs.filterNot(d => imported.contains(d.path)).foreach { d =>
      imported(d.path) = d
      expected("sensors") += d.sensors
      expected("referentials") += d.referentials
      expected("transfos") += d.transfos
      posesExpected += d.frames
    }
    if (h.trace) h.drain()
    val before = h.snapshot()
    val t0 = System.nanoTime()
    val layer = mutable.Map.empty[String, Double]
    var validateObs = ""
    var composeObs = ""
    var timed = 0.0
    def phase(body: => Unit): Double = { val s = h.phase(body); timed += s; s }
    val err = try {
      var xml: DataFrame = null
      val fetch = phase {
        xml = XmlManifest.readXml(spark, docs.map(_.path).toDS()).localCheckpoint()
      }
      if (h.trace) {
        h.drain()
        layer("sources.xml_fetch_tasks") =
          h.snapshot()("spark.tasks") - before.getOrElse("spark.tasks", 0.0)
      }
      // import and get-or-create are lazy up to getOrCreate's
      // materialized output (the store plus the rows it creates), so
      // their compute lands in the upsert phase
      var merged: Map[String, DataFrame] = null
      val ups = phase {
        merged = staging(xml).map { case (t, df) =>
          val staged = MicMacEtl.withSurrogateIds(df, Keys(t))
            .withColumn("id", col("id").cast(LongType))
          t -> MicMacEtl.getOrCreate(existing(t), staged, Keys(t)).localCheckpoint()
        }
      }
      // untimed: the rows getOrCreate returns beyond the store are the
      // append, so a matched key it re-creates is an extra row
      val sizes = Tables.map(t => t -> merged(t).count())
      val created = Tables.map(t => t -> merged(t).exceptAll(existing(t)).localCheckpoint())
      val app = phase {
        created.foreach { case (t, df) =>
          df.write.format("graftlines").mode("append").save(table(t))
        }
      }
      val g = edges()
      val validate = phase {
        validateObs = h.materialize(FrameGraph.validateTree(g))
      }
      val compose = phase {
        composeObs = h.materialize(FrameGraph.composeFromRoot(g, lit("world"), maxHops = 3))
      }
      layer ++= Map("etl.import_write_s" -> (fetch + ups + app),
        "sources.xml_fetch_s" -> fetch, "etl.upsert_s" -> ups, "sources.gl_append_s" -> app,
        "etl.validate_s" -> validate, "etl.compose_s" -> compose)
      // untimed, while the batch's checkpointed frames are still held
      h.sampleHeap()
      sizes.collectFirst { case (t, n) if n != expected(t) =>
        s"getOrCreate returned $n $t rows, expected ${expected(t)}" }
    } catch { case t: Throwable => Some(Harness.errText(t)) }
    // a failed op is charged its whole elapsed time, never a fast one
    val wall = if (err.isEmpty) timed else (System.nanoTime() - t0) / 1e9
    // output checks, untimed
    val checked = err.orElse {
      val violations = h.rows(validateObs).getOrElse(-1L)
      val poses = h.rows(composeObs).getOrElse(-1L)
      layer ++= Map("etl.docs" -> docs.size.toDouble, "etl.poses" -> poses.toDouble,
        "etl.violations" -> violations.toDouble)
      val counts = Tables.map(t => t -> spark.read.format("graftlines").load(table(t)).count())
      val bad = counts.collect { case (t, n) if n != expected(t) =>
        s"$t holds $n rows, expected ${expected(t)}" }
      if (violations != 0) Some(s"frame tree has $violations violations")
      else if (poses != posesExpected) Some(s"composed $poses poses, expected $posesExpected")
      else bad.headOption
    }
    OpResult(label, wall, checked.isEmpty, checked, layer.toMap)
  }

  /** Store footprint: (data files, bytes in the table directories
    * including `_graft_stats`, planned scan partitions of the three
    * tables). */
  def storeStats(): (Long, Long, Long) = {
    val files = Tables.flatMap { t =>
      val s = Files.list(java.nio.file.Paths.get(table(t)))
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
    val data = files.count(_.getFileName.toString.endsWith(".gl"))
    val bytes = files.filter(Files.isRegularFile(_)).map(Files.size).sum
    val scan = Tables.map(t =>
      spark.read.format("graftlines").load(table(t)).rdd.getNumPartitions.toLong).sum
    (data, bytes, scan)
  }
}

object Ingest {
  val Tables: Seq[String] = Seq("sensors", "referentials", "transfos")

  val Keys: Map[String, Seq[String]] = Map(
    "sensors" -> Seq("name"),
    "referentials" -> Seq("owner", "name"),
    "transfos" -> Seq("tree", "name"))

  val Schemas: Map[String, StructType] = Map(
    "sensors" -> new StructType().add("name", StringType).add("kind", StringType)
      .add("flavor", StringType).add("width", IntegerType).add("height", IntegerType),
    "referentials" -> new StructType().add("owner", StringType).add("name", StringType),
    "transfos" -> (0 until 12).foldLeft(new StructType().add("tree", StringType)
      .add("name", StringType).add("type", StringType).add("src", StringType)
      .add("dst", StringType))((s, i) => s.add(s"m$i", DoubleType)))

  /** The batches of a run: `fresh` new documents plus about 10 % of the
    * batch re-importing documents of earlier batches. */
  def plan(corpus: Corpus, batches: Int, docsPerBatch: Int, rnd: Random,
      earlier: Seq[Doc]): Seq[Seq[Doc]] = {
    val seen = mutable.ArrayBuffer.from(earlier)
    (0 until batches).map { _ =>
      val re = math.min(docsPerBatch / 10, seen.size)
      val again = rnd.shuffle(seen.toSeq).take(re)
      val fresh = corpus.fresh(docsPerBatch - re)
      seen ++= fresh
      rnd.shuffle(fresh ++ again)
    }
  }
}
