package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cdc.ChangeEvents
import graft.functions.ExtJson.ext_json_canonical
import graft.streaming.ChangeStreamRelay

/** `relay_live`: an open loop. One generator thread publishes a file of
  * change events every [[RelayLive.TickMs]] on a fixed schedule that does
  * not wait for the relay, into the source directory of the daemon relay
  * (`ChangeStreamRelay.run(oneShot = false)`). Each event's `clusterTime`
  * is the time it was due; its lag is the completion time of the epoch
  * that wrote it minus that due time.
  */
final class RelayLive(c: Workload.Ctx) extends Workload(c) {
  import RelayLive._

  /** (event type, body) rows of the fixture in seeded order. */
  private var bodies: Array[(String, String)] = _

  def setup(): Map[String, Double] = {
    val inputsS = Util.seconds {
      val events = Tables.table(spark, ctx.data, "events")
      bodies = Wire.body(events.orderBy(xxhash64(col("event_id"), lit(ctx.seed)))
          .limit(Bodies))
        .select("event_type", "body").collect()
        .map(r => r.getString(0) -> r.getString(1))
    }._2
    Map("inputs_s" -> inputsS)
  }

  def warmup(): Unit = {
    val warm = ctx.dir("warm_src")
    publish(Paths.get(ctx.dir("warm_stage")), warm, "w", 0, WarmEvents,
      _ => System.currentTimeMillis())
    ChangeStreamRelay.run(spark, warm, ctx.dir("warm_out"), ctx.dir("warm_chk"))
      .awaitTermination()
  }

  /** Writes events `[from, from + n)` of the seeded order as file `tag`,
    * staged then atomically renamed into `dir`. Returns relayed rows by
    * topic and the number of dead letters.
    */
  private def publish(stage: java.nio.file.Path, dir: String, tag: String,
      from: Int, n: Int, due: Int => Long): (Map[String, Long], Long) = {
    val sb = new StringBuilder
    val topics = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var dead = 0L
    for (j <- 0 until n) {
      val (eventType, body) = bodies((from + j) % bodies.length)
      sb.append(Wire.line(s"$tag-${from + j}", Wire.dueTime(due(j)), body)).append('\n')
      Wire.topic(eventType) match {
        case Some(t) => topics(t) += 1
        case None => dead += 1
      }
    }
    val staged = stage.resolve(s"$tag.json")
    Files.write(staged, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(staged, Paths.get(dir, s"$tag.json"), StandardCopyOption.ATOMIC_MOVE)
    (topics.toMap, dead)
  }

  def measure(seconds: Double): Map[String, Any] = {
    val src = ctx.dir("live_src")
    val stage = Paths.get(ctx.dir("live_stage"))
    val out = ctx.dir("live_out")
    val chk = ctx.dir("live_chk")
    val expectedTopics = mutable.Map.empty[String, Map[String, Long]]
    val expectedDead = mutable.Map.empty[String, Long]
    val published = mutable.ArrayBuffer.empty[Seq[Double]]

    // the first file is published before the relay starts, so the
    // engine's first epoch is not in the sample
    val (warmTopics, warmDead) = publish(stage, src, "w", 0, WarmEvents,
      _ => System.currentTimeMillis())
    expectedTopics("w") = warmTopics
    expectedDead("w") = warmDead
    val phaseMs = new scala.util.Random(ctx.seed).nextInt(TickMs)
    val intervals = math.max(1, math.ceil(seconds * 1000 / TriggerMs).toInt)
    val windowMs = intervals * TriggerMs - EdgeMs
    val events = (windowMs * RatePerS / 1000).toInt
    var files = 0

    val (q, genStart, genEnd) = rec.span("relay.live") {
      val q = rec.started(ChangeStreamRelay.run(spark, src, out, chk, oneShot = false))
      while (q.recentProgress.forall(_.numInputRows == 0)) Thread.sleep(20)
      // Events fall due evenly over whole trigger intervals, from one
      // trigger to just before the last, so every run has the same number
      // of epochs. Files go out every TickMs from the seeded phase, each
      // with the events that fell due since the one before, and a last
      // one at the end of the window.
      val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs
      def due(i: Int): Long = t0 + ((i + 0.5) * windowMs / events).toLong
      val flushes = (Iterator.iterate(t0 + phaseMs)(_ + TickMs)
        .takeWhile(_ < t0 + windowMs) ++ Iterator(t0 + windowMs)).toSeq
      files = flushes.size
      val generator = new Thread(() => {
        var next = 0
        for ((at, k) <- flushes.zipWithIndex) {
          val wait = at - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val first = next
          while (next < events && due(next) <= at) next += 1
          val tag = (k + 1).toString
          val (topics, dead) = publish(stage, src, tag, first, next - first,
            j => due(first + j))
          expectedTopics(tag) = topics
          expectedDead(tag) = dead
          published += Seq(k + 1.0, at.toDouble, System.currentTimeMillis().toDouble)
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
      val genEnd = System.currentTimeMillis()
      val deadline = genEnd + DrainTimeoutMs
      while (committedFiles(chk) < files + 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q.stop()
      (q, t0, genEnd)
    }

    val ends = epochEnds(q)
    val checkStart = rec.nowMs
    val fileOps =
      try {
        val rows = spark.read.parquet(out).withColumn("file",
          substring_index(get_json_object(col("value"), "$._id"), "-", 1))
        val byFileTopic = rows.groupBy("file", "topic").count().collect()
          .groupBy(_.getString(0))
          .map { case (f, rs) => f -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
        val byFile = rows
          .groupBy(col("file"), col("batch"),
            get_json_object(col("value"), "$.clusterTime.$date.$numberLong")
              .cast("long").as("due"))
          .count().collect()
          .groupBy(_.getString(0))
        val dead = deadLettersByFile(src)
        expectedTopics.keys.toSeq.sorted.map { f =>
          Map("kind" -> "file", "timed" -> (f != "w"), "file" -> f,
            "ok" -> (byFileTopic.getOrElse(f, Map.empty) == expectedTopics(f) &&
              dead.getOrElse(f, 0L) == expectedDead(f)),
            "items" -> (expectedTopics(f).values.sum + expectedDead(f)),
            "rows" -> byFile.getOrElse(f, Array.empty).toSeq.map(r =>
              Seq(r.getAs[Any](1).toString.toDouble, r.getLong(2).toDouble,
                r.getLong(3).toDouble)))
        }
      } catch { case e: Exception => Seq(failed(checkStart, e)) }
    Map("ops" -> fileOps,
      "gen_start_ms" -> genStart, "gen_end_ms" -> genEnd, "trigger_ms" -> TriggerMs,
      "published" -> published.toSeq,
      "epoch_ends" -> Workload.jsonKeys(ends)) ++
      (if (rec.enabled) Map("cdc_transform_s" -> transformPass(src)) else Map.empty)
  }

  /** Dead letters the library finds in `src`, by the file tag in `_id`. */
  private def deadLettersByFile(src: String): Map[String, Long] =
    ChangeStreamRelay.deadLetterStream(ChangeEvents.parseEnvelope(spark.read.text(src)))
      .groupBy(substring_index(col("_id"), "-", 1).as("file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `ChangeEvents.parseEnvelope` → `ChangeEvents.relay` over `src` as a
    * static frame into `noop`: the transform without engine or sink.
    */
  private def transformPass(src: String): Double =
    rec.span("cdc.transform") {
      Util.seconds {
        ChangeEvents.relay(ChangeEvents.parseEnvelope(spark.read.text(src)))
          .write.format("noop").mode("overwrite").save()
      }._2
    }

  /** Source files the relay has committed, from its checkpoint: the file
    * source logs each epoch's files under `sources/0/<batch>`, and an
    * epoch is done once `commits/<batch>` exists.
    */
  private def committedFiles(chk: String): Int = {
    val log = Paths.get(chk, "sources", "0")
    if (!Files.isDirectory(log)) 0
    else {
      val logs = Files.list(log).iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("."))
      logs.filter(p => Files.exists(Paths.get(chk, "commits",
          p.getFileName.toString.stripSuffix(".compact"))))
        .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")))
        .map(_.split("\"timestamp\"")(0)).distinct.size
    }
  }
}

object RelayLive {
  /** One file every 410 ms, about 13 per 5 s daemon trigger: below the
    * relay's 16-files-per-epoch cap, so 4000 events/s is sustainable.
    */
  val TickMs = 410
  val RatePerS = 4000
  /** Trigger interval of the daemon relay, `ChangeStreamRelay.run`; its
    * epochs start on multiples of it.
    */
  val TriggerMs = 5000L
  /** The last file is published this long before a trigger. */
  val EdgeMs = 100L
  /** Events of the file published before the relay starts. */
  val WarmEvents = 8000
  /** Distinct event bodies drawn from the fixture; ids stay unique when
    * a long run reuses them.
    */
  val Bodies = 20000
  val DrainTimeoutMs = 30000L
}

/** The change-stream wire format synthesized from the `events` fixture,
  * with the `graft.SparkEntry.entry` mapping: `error` events become
  * `invalidate`, which the relay must dead-letter.
  */
object Wire {
  val RelayedTypes = Map("signup" -> "insert", "purchase" -> "update",
    "click" -> "replace", "view" -> "update")

  def operationType: Column =
    RelayedTypes.foldLeft(lit("invalidate")) { case (acc, (ev, op)) =>
      when(col("event_type") === ev, op).otherwise(acc)
    }

  def ns: Column = struct(lit("app").as("db"), col("event_type").as("coll"))

  /** Topic a relayed event of this type lands on. */
  def topic(eventType: String): Option[String] =
    RelayedTypes.get(eventType).map(_ => s"app.$eventType")

  def documentKey: Column = ext_json_canonical(struct(col("user_id").as("_id")))

  def fullDocument: Column = ext_json_canonical(struct(
    col("event_id"), col("user_id"), col("value"), col("props")))

  /** Event fields other than `_id` and `clusterTime`, as a JSON object. */
  def body(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      to_json(struct(operationType.as("operationType"), ns.as("ns"),
        documentKey.as("documentKey"), fullDocument.as("fullDocument")))
        .as("body"))

  /** One wire line: `body` with the `_id` and `clusterTime` fields put in
    * front. `clusterTimeJson` is canonical Extended JSON.
    */
  def line(id: String, clusterTimeJson: String, body: String): String = {
    val ct = clusterTimeJson.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"_id":"$id","clusterTime":"$ct",${body.substring(1)}"""
  }

  def dueTime(ms: Long): String = s"""{"$$date":{"$$numberLong":"$ms"}}"""
}
