package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one measuring window.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <scratch dir> --out <raw json>
  * Main --certify <Verify dump dir> --work <dir> --out <json>
  * }}}
  * Both take `--expected <file>`, the expected outputs.
  *
  * The process sets up its workload [[SetupRepeats]] times, each time on a
  * fresh session with freshly generated inputs, keeps the
  * last set-up, warms it up once, then runs the workload's operations
  * until the window closes. It writes
  * raw observations (set-up phase times, one record per operation, output
  * check results, and with tracing the spans and layer counters) to
  * `--out`; `run.py` turns them into metrics. All scratch state lives
  * under `--work`, which the caller creates empty and deletes afterwards.
  */
object Main {
  val SetupRepeats = 3

  final case class Ctx(spark: SparkSession, data: String, work: Path,
      cores: Int, seed: Long, rec: Recorder) {
    /** A new empty directory under the scratch root. */
    def dir(name: String): String = {
      val d = work.resolve(name)
      if (Files.exists(d)) Util.deleteRecursively(d)
      Files.createDirectories(d).toString
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(args("work"))
    val out = Paths.get(args("out"))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val cores = Runtime.getRuntime.availableProcessors
    Expected.file = Paths.get(args("expected"))
    val result = args.get("certify") match {
      case Some(dump) => certify(dump, work, cores)
      case None => run(args, work, cores)
    }
    Files.writeString(out, mapper.writeValueAsString(result))
  }

  /** Expected values: each query's row count and hash from a Verify dump. */
  private def certify(dump: String, work: Path, cores: Int): Map[String, Any] = {
    val spark = Sessions.build(work.resolve("session"), cores)
    try Map("queries" -> QueriesWorkload.certify(spark, dump))
    finally Sessions.stop(spark)
  }

  private def run(args: Map[String, String], work: Path, cores: Int): Map[String, Any] = {
    val entered = System.currentTimeMillis()
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val factory = Workload.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))

    // Set-up is repeated on fresh sessions so its median is a steady
    // number; the last repeat is the one that is warmed up and measured.
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var ctx: Ctx = null
    var workload: Workload = null
    for (i <- 0 until SetupRepeats) {
      if (ctx != null) Sessions.stop(ctx.spark)
      val t0 = System.nanoTime()
      val spark = Sessions.build(work.resolve(s"session$i"), cores)
      val sessionS = (System.nanoTime() - t0) / 1e9
      ctx = Ctx(spark, args("data"), work.resolve(s"setup$i"), cores, seed,
        new Recorder(enabled = false, s"$name-$seed"))
      workload = factory(ctx)
      setups += workload.setup() + ("session_s" -> sessionS)
    }

    val warmupS = Util.seconds(workload.warmup())._2

    // The measured window runs untraced. A traced run then repeats it
    // twice, untraced and with the listeners attached: the two run on an
    // equally warm process, so they give the tracing overhead.
    val untraced = workload.measure(seconds)
    val tracedRun = if (!traced) None else {
      val baseline = workload.measure(seconds)
      val rec = new Recorder(enabled = true, s"$name-$seed")
      rec.attach(ctx.spark)
      val m = workload.withRecorder(rec).measure(seconds)
      rec.flush(ctx.spark)
      rec.detach(ctx.spark)
      Some((rec, baseline, m))
    }
    val rssKb = Util.peakRssKb()
    Sessions.stop(ctx.spark)

    Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "main_entered_ms" -> entered,
      "setup" -> setups.toSeq, "warmup_s" -> warmupS,
      "measured" -> untraced,
      "peak_rss_kb" -> rssKb) ++
      tracedRun.map { case (rec, baseline, m) =>
        "traced" -> Map(
          "baseline" -> baseline,
          "measured" -> m,
          "spans" -> rec.spanRows,
          "counters" -> rec.counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
          "catalyst" -> rec.catalyst.toSeq,
          "progress" -> rec.progress.toSeq)
      }
  }
}

object Sessions {
  /** One local session sized from the machine: `local[cores]`, `cores`
    * shuffle partitions, every scratch location under `root`.
    */
  def build(root: Path, cores: Int): SparkSession = {
    Files.createDirectories(root)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftFunctions.ensureAttached(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Util {
  def deleteRecursively(p: Path): Unit = graft.operators.Artifacts.deleteRecursively(p)

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** High-water resident set of this process, from `/proc/self/status`. */
  def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}
