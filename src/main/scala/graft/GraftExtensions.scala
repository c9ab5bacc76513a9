package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{lit, udf}
import org.apache.spark.sql.graftglue.glue
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSimilarity, DotProduct, ExtJson, ExtJsonCanonical, Hashing}

/** SQL-surface registration of the engine's expression family, so every
  * capability is reachable from `spark.sql("...")` — the reference's
  * north star is QUERY capability, and a user must not need Scala to
  * use it.
  *
  * Two entry points:
  *  - [[GraftExtensions]] for new sessions:
  *    `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  *    `builder.withExtensions(new GraftExtensions)` — the injection path a
  *    cluster deploys (spark-defaults.conf), no code changes per job.
  *  - [[GraftFunctions.registerAll]] for an already-running session
  *    (temp-function registry).
  *
  * [[GraftFunctions.registerViews]] names the fixture tables so SQL can
  * reference them (`SELECT ... FROM documents`); [[GraftFunctions.attach]]
  * does both in one call. SqlSurfaceSpec proves one declared query per
  * family returns bit-identical rows through plain SQL.
  *
  * Builder style: native Catalyst expressions register directly; the
  * convention helpers (md5_bucket, ext_json_get, the bson_* wrappers)
  * register as COMPOSED-EXPRESSION builders that delegate to the same
  * Column-level definitions the Scala API uses — one definition, two
  * surfaces, so the SQL form cannot drift from the Scala form, and the
  * result stays fully codegen'd (no UDF boundary). The one exception is
  * `winnow_fingerprints`, whose rolling-hash loop is imperative Scala —
  * it registers as the same UDF the streaming guard uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {

  private def toCol(e: Expression): Column = glue.toColumn(e)
  // deep conversion: a registry builder must return a fully-catalyst
  // tree the analyzer can resolve (see glue.toCatalystExpression)
  private def toExpr(c: Column): Expression = glue.toCatalystExpression(c)

  /** `usage` is documentation-by-name only: the composed builders have
    * no dedicated Expression class to hang extended docs on, and
    * ExpressionInfo's validated long-form constructor adds nothing the
    * DESCRIBE FUNCTION one-liner doesn't.
    */
  private def info(name: String, usage: String): ExpressionInfo = {
    val _ = usage
    new ExpressionInfo(GraftFunctions.getClass.getName, name)
  }

  /** A string argument that must be foldable at analysis time (JSON
    * paths — `get_json_object` requires a literal path anyway).
    */
  private def literalString(e: Expression, fn: String, arg: String): String =
    e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal, got $other")
    }

  private val winnowUdf =
    udf((text: String) =>
      if (text == null) null else graft.text.Winnow.fingerprints(text))

  private val imageDhashUdf =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) None else graft.multimodal.Multimodal.dHash(bytes))
  private val audioFpUdf =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) None
      else graft.multimodal.Multimodal.audioFingerprint(bytes))
  private val videoFpUdf =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) None
      else graft.multimodal.Multimodal.videoFingerprint(bytes))

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // ---- native Catalyst expressions (codegen'd) ----
    ("ext_json_canonical",
      new ExpressionInfo(classOf[ExtJsonCanonical].getName, "ext_json_canonical"),
      (exprs: Seq[Expression]) => ExtJsonCanonical(exprs.head)),
    ("cosine_similarity",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))),
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    ("bloom_might_contain",
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (exprs: Seq[Expression]) =>
        new BloomFilterMightContain(exprs(0), exprs(1))),
    ("micro_signed_dot",
      new ExpressionInfo(classOf[graft.functions.MicroSignedDot].getName,
        "micro_signed_dot"),
      (exprs: Seq[Expression]) =>
        graft.functions.MicroSignedDot(exprs(0), exprs(1))),

    // ---- composed expressions delegating to the Scala Column API ----
    ("md5_bucket",
      info("md5_bucket", "md5_bucket(key[, mod]) - first 8 md5 hex digits mod `mod` (default 1e6)"),
      (exprs: Seq[Expression]) => toExpr(Hashing.md5Bucket(toCol(exprs(0)),
        if (exprs.length > 1) toCol(exprs(1)) else lit(1000000L)))),
    ("ext_json_get",
      info("ext_json_get", "ext_json_get(json, path) - extract, unwrapping canonical type tags"),
      (exprs: Seq[Expression]) => toExpr(ExtJson.ext_json_get(toCol(exprs(0)),
        literalString(exprs(1), "ext_json_get", "path")))),
    ("object_id",
      info("object_id", "object_id(binary) - tag 12 bytes for $oid rendering"),
      (exprs: Seq[Expression]) => toExpr(ExtJson.object_id(toCol(exprs(0))))),
    ("bson_timestamp",
      info("bson_timestamp", "bson_timestamp(seconds, ordinal) - $timestamp convention"),
      (exprs: Seq[Expression]) =>
        toExpr(ExtJson.bson_timestamp(toCol(exprs(0)), toCol(exprs(1))))),
    ("bson_regex",
      info("bson_regex", "bson_regex(pattern, options) - $regularExpression convention"),
      (exprs: Seq[Expression]) =>
        toExpr(ExtJson.bson_regex(toCol(exprs(0)), toCol(exprs(1))))),
    ("bson_decimal128",
      info("bson_decimal128", "bson_decimal128(text) - $numberDecimal convention"),
      (exprs: Seq[Expression]) =>
        toExpr(ExtJson.bson_decimal128(toCol(exprs(0))))),
    ("bson_binary",
      info("bson_binary", "bson_binary(bytes, subType) - $binary convention with subtype"),
      (exprs: Seq[Expression]) =>
        toExpr(ExtJson.bson_binary(toCol(exprs(0)), toCol(exprs(1))))),

    // ---- UDF boundary (imperative rolling hash; same fn the
    //      streaming ContaminationGuard ships per-task) ----
    ("winnow_fingerprints",
      info("winnow_fingerprints", "winnow_fingerprints(text) - winnowed rolling-hash fingerprint array"),
      (exprs: Seq[Expression]) => toExpr(winnowUdf(toCol(exprs(0))))),

    // ---- codec UDF boundary: the three perceptual hashes, same
    //      functions the mm_* queries run (JVM codec walks — PNG
    //      decode, RIFF→PCM, stsz/stco demux — cannot be composed
    //      expressions); NULL for undecodable payloads ----
    ("image_dhash",
      info("image_dhash", "image_dhash(png_bytes) - 64-bit gradient-sign perceptual hash"),
      (exprs: Seq[Expression]) => toExpr(imageDhashUdf(toCol(exprs(0))))),
    ("audio_fingerprint",
      info("audio_fingerprint", "audio_fingerprint(wav_bytes) - 64-bit energy-contour fingerprint"),
      (exprs: Seq[Expression]) => toExpr(audioFpUdf(toCol(exprs(0))))),
    ("video_fingerprint",
      info("video_fingerprint", "video_fingerprint(mp4_bytes) - 64-bit content-contour fingerprint"),
      (exprs: Seq[Expression]) => toExpr(videoFpUdf(toCol(exprs(0))))))

  /** Register on a live session (temp functions, session-scoped). */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Post-`getOrCreate` belt for [[Sessions.local]]:
    * `.config("spark.sql.extensions", ...)` only takes effect when the
    * session is actually CREATED — in a shared JVM, getOrCreate reuses
    * the existing session and the injection is silently skipped, which
    * would quietly degrade the "fail the round loudly on registry rot"
    * guarantee. If the extension path didn't land, register into the
    * live registry directly (idempotent), then ASSERT one registered
    * name resolves either way.
    */
  def ensureAttached(spark: SparkSession): Unit = {
    def attached = all.forall { case (name, _, _) =>
      spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(name))
    }
    if (!attached) registerAll(spark)
    require(attached,
      "graft SQL function registry failed to attach to the session")
  }

  /** Name the fixture tables as temp views so plain SQL can read them —
    * `Tables.table` (not a bare parquet read) so the events.ts
    * timestamp normalization holds on the SQL surface too.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Tables.all.foreach { name =>
      Tables.table(spark, sfDir, name).createOrReplaceTempView(name)
    }

  /** The one-call SQL front door: functions + fixture views. */
  def attach(spark: SparkSession, sfDir: String): Unit = {
    registerAll(spark)
    registerViews(spark, sfDir)
  }
}
