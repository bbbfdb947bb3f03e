package graft.annotate

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project, Union}
import org.apache.spark.sql.functions._

/** A0 — corpus adaptation + deterministic HTML→text extraction.
  *
  * Canonical input shape (BASELINE.json `input_hint`):
  * `(url string, warc_ts timestamp, html binary, text string, lang string)`.
  * Per-row invariant: when `text` is non-null it is used VERBATIM (the
  * byte-identity contract, asserted in tests); only null-text rows pay the
  * HTML extraction cost.
  */
object Corpus {

  /** Adapt the driver's `documents` table (doc_id, text, lang, source,
    * n_chars — FIXTURES.md §A) to the canonical shape. `warc_ts` is a
    * deterministic function of doc_id (no wall clock anywhere). */
  def fromDriverTable(docs: DataFrame): DataFrame =
    docs.select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      expr("timestampadd(SECOND, doc_id, timestamp'2024-01-01 00:00:00')").as("warc_ts"),
      lit(null).cast("binary").as("html"),
      col("text"),
      col("lang"))

  def readDriverDocuments(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    fromDriverTable(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** Scale-adaptive respread of a raw document scan (optimization-guide
    * §2.5: an input with fewer splits than cores — a single-row-group
    * parquet, a gzip member, a small-file tail — runs every downstream map
    * nearly serially; repartition right after the read). IDENTITY whenever
    * the scan already carries ≥ cores partitions, i.e. at any real corpus
    * size. The partition probe (`.rdd`) would force eager AQE stage
    * execution on a frame holding an exchange, so any input whose analyzed
    * plan holds more than scans, projections, filters and unions is
    * returned as is, unprobed. */
  def spread(docs: DataFrame): DataFrame = {
    val scanShaped = docs.queryExecution.analyzed.find {
      case _: LeafNode | _: Project | _: Filter | _: Union => false
      case _ => true
    }.isEmpty
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (scanShaped && docs.rdd.getNumPartitions < target) docs.repartition(target)
    else docs
  }

  /** Pure, deterministic HTML→text (same bytes in → same string out, every
    * run, every JVM): drop script/style/comments, strip tags, decode the
    * common entities, collapse whitespace. Golden-tested.
    */
  def htmlToText(html: String): String = {
    if (html == null) return ""
    val noScript = html
      .replaceAll("(?is)<script\\b[^>]*>.*?</script>", " ")
      .replaceAll("(?is)<style\\b[^>]*>.*?</style>", " ")
      .replaceAll("(?s)<!--.*?-->", " ")
    val noTags = noScript.replaceAll("(?s)<[^>]*>", " ")
    val decoded = noTags
      .replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")
    decoded.replaceAll("\\s+", " ").trim
  }

  def htmlBytesToText(html: Array[Byte]): String =
    if (html == null) "" else htmlToText(new String(html, StandardCharsets.UTF_8))

  private val htmlToTextUdf = udf((html: Array[Byte]) => htmlBytesToText(html))

  /** Extracted-text column: `text` verbatim when present, else HTML strip. */
  def extractedText(text: Column, html: Column): Column =
    when(text.isNotNull, text).otherwise(htmlToTextUdf(html))

  /** Materialize extraction over a canonical corpus → (url, warc_ts, text,
    * lang). `html` is dropped after extraction so downstream stages never
    * carry page bytes (column pruning by construction — SURVEY.md §5
    * "never read html when text is non-null"). */
  def extract(corpus: DataFrame): DataFrame =
    corpus.select(
      col("url"), col("warc_ts"),
      extractedText(col("text"), col("html")).as("text"),
      col("lang"))

  /** S2 — document-length-bucketed range repartition so giant pages spread
    * across partitions instead of landing in one (SURVEY.md §3.3 S2). Bucket
    * = log2 of text length; `url` spreads within a bucket. */
  def lengthBucketed(extracted: DataFrame, partitions: Int): DataFrame =
    extracted
      .withColumn("len_bucket", floor(log(2.0, length(col("text")) + lit(1))))
      .repartitionByRange(partitions, col("len_bucket"), col("url"))
      .drop("len_bucket")
}
