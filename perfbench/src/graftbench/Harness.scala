package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Registry

/** One engine process of the benchmark: set up, run one cold pass over
  * the given ops, and write what it measured as JSON.
  *
  * {{{
  * Harness --ops a,b,c --data <sf dir> --warm <sf dir> --out <json>
  *         [--csv <stroke csv>] [--trace 1]
  * }}}
  * Each op is timed from the call into its module's public function
  * (`build`) until its full output is computed and fingerprinted
  * (`action`). With `--trace 1` the run attaches the listeners of
  * [[Tracer]], records spans, and then runs a second, warm pass.
  * `Harness --fingerprint-parquet <dir>...` prints the fingerprint of
  * each parquet output directory.
  */
object Harness {
  final case class OpResult(name: String, seconds: Double, buildS: Double,
      actionS: Double, fp: Option[Fingerprint.Fp], error: Option[String])

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--fingerprint-parquet")) {
      val spark = session()
      args.tail.foreach { d =>
        val fp = Fingerprint.of(spark.read.parquet(d))
        println(s"${Paths.get(d).getFileName} ${fp.hex}")
      }
      spark.stop()
      return
    }
    val a = parse(args)
    val ops = a("ops").split(',').toSeq.filter(_.nonEmpty)
    val (dataDir, warmDir, out) = (a("data"), a("warm"), a("out"))
    val traced = a.get("trace").contains("1")
    val jit = ManagementFactory.getCompilationMXBean
    val spark = session()
    warmUp(spark, warmDir)

    val registry = Registry.all.toMap
    val ml = a.get("csv").map(new MlPipeline(spark, _))
    def build(name: String): DataFrame =
      if (name.startsWith("ml.")) ml.getOrElse(
        sys.error("ml.* ops need --csv")).step(name)
      else registry(name).fn(spark, dataDir)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    def span[T](name: String, parent: Long, phase: String)(body: Long => T): T =
      tracer.fold(body(0L))(_.span(name, parent, phase)(body))
    def runOp(name: String): OpResult = {
      val t0 = System.nanoTime()
      var t1 = t0
      val res =
        try Right(span(name, 0, "op") { id =>
          val df = span("build", id, "build")(_ => build(name))
          t1 = System.nanoTime()
          val fp = span("action", id, "action")(_ => Fingerprint.of(df))
          tracer.foreach(_.planned(df.queryExecution))
          fp
        })
        catch { case e: Throwable => Left(describe(e)) }
      val t2 = System.nanoTime()
      if (res.isLeft) t1 = t2
      OpResult(name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        res.toOption, res.left.toOption)
    }

    val gc0 = gcSeconds
    val readyEpochS = epochSeconds
    val passStart = System.nanoTime()
    val cold = ops.map(runOp)
    val coldS = (System.nanoTime() - passStart) / 1e9
    val gcS = gcSeconds - gc0
    val jitS = jit.getTotalCompilationTime / 1e3
    spark.streams.active.foreach(_.stop())
    val retainedMb = retainedHeapMb()

    val layers = tracer.map { tr =>
      tr.detach()
      val coldLayers = tr.layerMetrics
      val storage = spark.sparkContext.getRDDStorageInfo
      val tmpMb = dirBytes(System.getProperty("java.io.tmpdir")) / Tracer.MB
      val warmStart = System.nanoTime()
      ops.foreach(runOp)
      val warmS = (System.nanoTime() - warmStart) / 1e9
      spark.streams.active.foreach(_.stop())
      writeSpans(tr, out.stripSuffix(".json") + ".spans.json")
      coldLayers ++ Map(
        "build.s" -> cold.map(_.buildS).sum,
        "action.s" -> cold.map(_.actionS).sum,
        "landing.pinned_mb" -> storage.map(_.memSize).sum / Tracer.MB,
        // cached blocks on disk plus what the modules wrote under the
        // temp dir: landed layouts, table stores, stream checkpoints
        "landing.disk_mb" -> (storage.map(_.diskSize).sum / Tracer.MB + tmpMb),
        "landing.warm_pass_s" -> warmS,
        "jvm.gc_s" -> gcS,
        "jvm.jit_s" -> jitS,
        "trace.cold_s" -> coldS)
    }.getOrElse(Map.empty)

    val checks = ml.map(_.checks(
      cold.find(_.name == "ml.read_csv").flatMap(_.fp).map(_.rows)))
      .getOrElse(Nil)

    val opsJson = cold.map { r =>
      Json.obj("name" -> r.name, "s" -> r.seconds, "build_s" -> r.buildS,
        "action_s" -> r.actionS, "fp" -> r.fp.map(_.hex),
        "rows" -> r.fp.map(_.rows), "error" -> r.error)
    }
    val checksJson = checks.map { case (n, ok, d) =>
      Json.obj("name" -> n, "ok" -> ok, "detail" -> d)
    }
    Files.writeString(Paths.get(out), Json.obj(
      "ready_epoch_s" -> readyEpochS, "cold_s" -> coldS,
      "retained_mb" -> retainedMb,
      "ops" -> opsJson, "checks" -> checksJson, "layers" -> layers).s + "\n")
    spark.stop()
  }

  /** The session Bench and Verify build: local[N] over every cpu. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM, Spark SQL, codegen, the parquet reader and the fingerprint warm
    * up on the smallest tables. Nothing built here is keyed on the
    * measured data's paths.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    Fingerprint.of(Registry.all.toMap.apply("q1_pricing_summary").fn(spark, dir))
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def epochSeconds: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** Live heap after full collections: what the pass left pinned. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / Tracer.MB
  }

  def dirBytes(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => try Files.size(p) catch { case _: java.io.IOException => 0L })
      .sum
    finally walk.close()
  }

  private def writeSpans(tr: Tracer, path: String): Unit = {
    val spans = tr.spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
    Files.writeString(Paths.get(path), Json.arr(spans.toSeq).s + "\n")
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(vs: Seq[Any]): Raw = Raw(vs.map(value).mkString("[", ",", "]"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case s: Seq[_] => arr(s).s
    case other => str(other.toString)
  }
}
