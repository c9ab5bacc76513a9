package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.SessionMemo

/** `queries`: every declared query of the chosen families, one at a time
  * (a closed loop with one client) into a `noop` sink, in family order,
  * with `SessionMemo.evictAll` at each family boundary as `graft.Bench`
  * does. Whole passes repeat until the window closes. The first pass is
  * each query's first run in the process, plans and generated code
  * included, as a job submitted on its own pays it. Each execution is
  * checked against the row count and order-independent hash in the
  * expected file, observed on the same execution that is timed.
  */
final class QueriesWorkload(c: Workload.Ctx) extends Workload(c) {
  import QueriesWorkload._

  private lazy val expected = Expected.queries

  /** The queries read the fixture as it is: there is nothing to make. */
  def setup(): Map[String, Double] = Map("inputs_s" -> 0.0)

  /** A query outside the measured families loads the fixture reader and
    * the planner once.
    */
  def warmup(): Unit = {
    SparkEntry.queries(WarmupQuery)(spark, ctx.data).write.format("noop").mode("overwrite").save()
    SessionMemo.evictAll(spark)
  }

  private def run(family: String, name: String,
      fn: (SparkSession, String) => DataFrame): Map[String, Any] = {
    val start = rec.nowMs
    guarded(start) {
      val (df, buildS) = Util.seconds(rec.span("query.build")(fn(spark, ctx.data)))
      val ob = Observation()
      val check = checkColumns(df)
      val execS = Util.seconds(rec.span("query.exec") {
        df.observe(ob, check.head, check.tail: _*)
          .write.format("noop").mode("overwrite").save()
      })._2
      val (rows, hash) = observed(ob.get)
      Map("kind" -> "query", "timed" -> true, "name" -> name, "family" -> family,
        "start_ms" -> start, "end_ms" -> rec.nowMs, "items" -> 1L,
        "ok" -> expected.get(name).contains((rows, hash)),
        "rows" -> rows, "hash" -> hash, "build_s" -> buildS, "exec_s" -> execS,
        "latency" -> Seq(Seq(buildS + execS, 1.0)))
    }
  }

  def measure(seconds: Double): Map[String, Any] = {
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[Map[String, Any]]
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      families.foreach { case (family, qs) =>
        qs.foreach { case (name, fn) => ops += run(family, name, fn) }
        val start = rec.nowMs
        // cached-RDD storage held by the family's pins, just before eviction
        val pinned = if (!rec.enabled) 0L else
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        rec.span("memo.evict")(SessionMemo.evictAll(spark))
        ops += Map("kind" -> "evict", "timed" -> false, "family" -> family,
          "start_ms" -> start, "end_ms" -> rec.nowMs, "items" -> 0L, "ok" -> true,
          "pinned_bytes" -> pinned)
      }
      passes += 1
    }
    Map("ops" -> ops.result(), "passes" -> passes)
  }
}

object QueriesWorkload {
  /** Query families measured, in run order. */
  val Families: Seq[String] = Seq("cdc_")
  /** Reads `events` like the measured family, but is not part of it. */
  val WarmupQuery = "proj_filter"

  def families: Seq[(String, Seq[(String, (SparkSession, String) => DataFrame)])] =
    Families.map(f => f -> SparkEntry.queries.toSeq.filter(_._1.startsWith(f)).sortBy(_._1))

  /** Row count and an order-independent hash of every row. Floating-point
    * values are rounded to nine significant digits, so that the last-bit
    * differences of a reordered sum do not change the hash.
    */
  def checkColumns(df: DataFrame): Seq[Column] = {
    val parts = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast(StringType)
      }
    }
    Seq(count(lit(1)).as("rows"),
      sum(pmod(xxhash64(parts: _*), lit(Int.MaxValue.toLong))).as("hash"))
  }

  def observed(m: Map[String, Any]): (Long, Long) =
    (m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))

  /** Row count and hash of each query's output in a `graft.Verify` dump. */
  def certify(spark: SparkSession, dump: String): Map[String, Map[String, Long]] =
    families.flatMap(_._2).map(_._1).filter(n =>
      Files.isDirectory(java.nio.file.Paths.get(dump, n))).map { name =>
      val df = spark.read.parquet(s"$dump/$name")
      val check = checkColumns(df)
      val r = df.agg(check.head, check.tail: _*).head()
      name -> Map("rows" -> r.getLong(0),
        "hash" -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
    }.toMap
}

/** Expected outputs, kept in the benchmark's `expected` directory. */
object Expected {
  @volatile var file: Path = _

  private def tree = new ObjectMapper().readTree(Files.readString(file))

  def queries: Map[String, (Long, Long)] =
    tree.get("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)
    }.toMap
}
