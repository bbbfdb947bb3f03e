package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Lineage, OntologyTables, Pipeline}
import graft.annotate.{Corpus, Expand, Filters, Incremental, NativeAnnotate, Scoring}
import graft.dict.{AutomatonBuild, DictBuild}
import graft.emit.Triples
import graft.graph.Closure
import graft.io.TableIO

/** `Pipeline.run` and `Pipeline.runIncremental` put together again from the
  * modules' public calls, stage by stage in the program's order, so that
  * each call can run in its layer's span with its output forced there
  * (`localCheckpoint`): without forcing, Spark would defer every layer's
  * work to the stage write. Stage writes and read-backs run under `io`;
  * input counts and lineage rows, which the program computes privately,
  * are redone here under `pipeline`. The result must equal the program's
  * own run, which [[Run]] checks by fingerprint.
  */
object Compose {

  /** Forced layer outputs of the last traced job, keyed
    * `<dict version>/<output>`, for counting afterwards (they stay pinned
    * until the next job starts). */
  val last = mutable.LinkedHashMap.empty[String, DataFrame]

  private def force(key: String, df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint()
    last(key) = pinned
    pinned
  }

  /** A stage without resume: `compute` (already run in its layer's span),
    * then the write and read-back, then the lineage rows. */
  private def stage(ctx: Ctx, io: TableIO, cfg: Pipeline.Config, name: String,
                    inputRows: => Long)(compute: => DataFrame): DataFrame = {
    val t = ctx.trace
    val t0 = System.nanoTime()
    val df = compute
    val parts = if (name.startsWith("triples")) Seq("part_date", "dict_version") else Nil
    val persisted = t.span("io") {
      io.write(df, name, parts)
      val dir = new File(s"${cfg.workDir}/$name")
      t.count("io", "write_mb", Util.bytes(dir) / 1e6)
      t.count("io", "files", Util.files(dir))
      io.read(ctx.spark, name)
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    t.span("pipeline")(lineage(ctx.spark, name, persisted, inputRows, wallMs, cfg))
    persisted
  }

  /** The program's per-partition lineage rows (`Pipeline.emitLineage`). */
  private def lineage(spark: SparkSession, stage: String, persisted: DataFrame,
                      inputRows: Long, wallMs: Long, cfg: Pipeline.Config): Unit = {
    import spark.implicits._
    val rows = persisted.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("output_rows")).as[(Int, Long)].collect()
      .map { case (pid, n) => Lineage(stage, pid, inputRows, n, wallMs, cfg.dictVersion, cfg.runId) }
    spark.createDataFrame(rows.toSeq).write.mode("append").parquet(s"${cfg.workDir}/lineage")
  }

  private def scanAndFilter(ctx: Ctx, cfg: Pipeline.Config, dict: DataFrame,
                            corpus: DataFrame, concepts: DataFrame,
                            version: String): DataFrame = {
    val t = ctx.trace
    val model = t.span("dict") {
      val m = AutomatonBuild.build(ctx.spark, dict, version)
      t.count("dict", "automaton_states", m.automaton.numNodes)
      t.count("dict", "automaton_mb", m.automaton.sizeEstimate / 1e6)
      AutomatonBuild.broadcastModel(ctx.spark, m)
    }
    last(s"$version/scan_input") = corpus
    t.span("annotate.scan") {
      force(s"$version/matches", Filters(
        NativeAnnotate.annotateMatches(corpus, model, cfg.opts.longestOnly,
          cfg.opts.wholeWordOnly)
          .withColumnRenamed("class_iri", "classIri")
          .withColumnRenamed("match_type", "matchType"),
        cfg.opts,
        Some(concepts.select(col("class_iri"), explode(col("tuis")).as("tui")))))
    }
  }

  private def assembleTriples(ctx: Ctx, cfg: Pipeline.Config, matches: DataFrame,
                              closure: DataFrame, mappings: DataFrame,
                              corpus: DataFrame, version: String): DataFrame = {
    val t = ctx.trace
    val (direct, hier, mapped) = t.span("annotate.expand") {
      (force(s"$version/direct", Scoring.directScores(matches)),
        force(s"$version/hier", Expand.hierarchy(matches, closure, cfg.opts.hierarchyMaxLevel)),
        force(s"$version/mapped", Expand.mappings(matches, mappings)))
    }
    t.span("emit") {
      force(s"$version/triples", Triples.withPartDate(
        Triples.assemble(direct, hier, mapped, version)
          .filter(col("score") >= cfg.opts.scoreThreshold), corpus))
    }
  }

  /** `Pipeline.run` for a fresh work dir. */
  def bulk(ctx: Ctx, cfg: Pipeline.Config, onto: OntologyTables): Unit = {
    val (spark, t) = (ctx.spark, ctx.trace)
    val io = TableIO.forSession(spark, cfg.workDir)
    onto.concepts.cache()
    try {
      val dict = stage(ctx, io, cfg, "dict", onto.concepts.count()) {
        t.span("dict")(force("v1/dict", DictBuild.build(DictBuild.labelRows(onto.concepts))))
      }
      lazy val nDocs = spark.read.parquet(s"${cfg.sfDir}/documents.parquet").count()
      val corpus = stage(ctx, io, cfg, "corpus", nDocs) {
        t.span("annotate.corpus")(force("v1/corpus", Corpus.lengthBucketed(
          Corpus.extract(Corpus.readDriverDocuments(spark, cfg.sfDir)), cfg.scanPartitions)))
      }
      lazy val nCorpus = corpus.count()
      val matches = stage(ctx, io, cfg, "matches", nCorpus) {
        scanAndFilter(ctx, cfg, dict, corpus, onto.concepts, cfg.dictVersion)
      }
      val closure = stage(ctx, io, cfg, "closure", onto.edges.count()) {
        t.span("graph.closure")(force("v1/closure",
          Closure.transitiveClosure(onto.edges, cfg.opts.hierarchyMaxLevel)))
      }
      lazy val nMatches = matches.count()
      stage(ctx, io, cfg, "triples", nMatches) {
        assembleTriples(ctx, cfg, matches, closure, onto.mappings, corpus, cfg.dictVersion)
      }
    } finally onto.concepts.unpersist()
  }

  /** `Pipeline.runIncremental` on a completed v1 work dir. */
  def refresh(ctx: Ctx, cfg: Pipeline.Config, onto: OntologyTables,
              v2Concepts: DataFrame): Unit = {
    val (spark, t) = (ctx.spark, ctx.trace)
    val io = TableIO.forSession(spark, cfg.workDir)
    val v2 = cfg.dictVersion
    val corpus = io.read(spark, "corpus")
    v2Concepts.cache()
    try {
      val dictV2 = stage(ctx, io, cfg, s"dict_$v2", v2Concepts.count()) {
        t.span("dict")(force(s"$v2/dict", DictBuild.build(DictBuild.labelRows(v2Concepts))))
      }
      lazy val nMatches = io.read(spark, "matches").count()
      stage(ctx, io, cfg, s"triples_$v2", nMatches) {
        val affected = t.span("annotate.incremental") {
          val upd = Incremental.diff(DictBuild.flatDict(io.read(spark, "dict")),
            DictBuild.flatDict(dictV2))
          force(s"$v2/affected", Incremental.affectedUrls(spark, corpus,
            io.read(spark, "matches"), upd, wholeWord = cfg.opts.wholeWordOnly))
        }
        t.span("annotate.incremental") {
          force(s"$v2/refreshed", Incremental.incrementalTriples(corpus,
            io.read(spark, "triples"), affected, v2, slice => {
              val m2 = scanAndFilter(ctx, cfg, dictV2, slice, v2Concepts, v2)
              assembleTriples(ctx, cfg, m2, io.read(spark, "closure"),
                onto.mappings, slice, v2)
            }))
        }
      }
    } finally v2Concepts.unpersist()
  }

  private def rows(key: String): Double = last.get(key).map(_.count().toDouble).getOrElse(0.0)

  private def textMb(df: DataFrame): Double =
    df.agg(sum(length(col("text")))).head().getLong(0) / 1e6

  /** Layer counts of one dictionary version's part of the last traced
    * job, from its forced outputs; the two parts add up per layer. */
  def annotateCounts(ctx: Ctx, version: String): Unit = {
    val t = ctx.trace
    def key(k: String) = s"$version/$k"
    val matches = rows(key("matches"))
    t.count("dict", "terms", rows(key("dict")))
    last.get(key("corpus")).foreach(c => t.count("annotate.corpus", "text_mb", textMb(c)))
    t.count("annotate.scan", "text_mb", last.get(key("scan_input")).map(textMb).getOrElse(0.0))
    t.count("annotate.scan", "matches", matches)
    if (last.contains(key("closure"))) t.count("graph.closure", "rows", rows(key("closure")))
    t.count("annotate.expand", "direct_matches", matches)
    t.count("emit", "triples", rows(key("triples")))
  }

  /** Scan throughput and expansion fan-out, once both parts are counted. */
  def ratios(ctx: Ctx): Unit = {
    val t = ctx.trace
    val scan = t.stats("annotate.scan")
    t.count("annotate.scan", "mb_per_task_s",
      scan.counts.getOrElse("text_mb", 0.0) / math.max(scan.taskNs / 1e9, 1e-9))
    t.count("annotate.expand", "fanout", t.stats("emit").counts.getOrElse("triples", 0.0) /
      math.max(t.stats("annotate.expand").counts.getOrElse("direct_matches", 0.0), 1.0))
  }

  /** What the last traced refresh re-annotated, and how much of it changed. */
  def refreshCounts(ctx: Ctx, workDir: String, docs: Long): Unit = {
    val spark = ctx.spark
    val affected = last("v2/affected")
    val nAffected = affected.count()
    val v1 = spark.read.parquet(s"$workDir/triples").drop("dict_version")
    val v2 = spark.read.parquet(s"$workDir/triples_v2").drop("dict_version")
    val changed = v1.exceptAll(v2).unionByName(v2.exceptAll(v1)).select("subj").distinct().count()
    val carried = v1.join(affected.select(col("url").as("subj")), Seq("subj"), "left_anti").count()
    val t = ctx.trace
    t.count("annotate.incremental", "affected_frac", nAffected / docs.toDouble)
    t.count("annotate.incremental", "useful_frac", changed / math.max(nAffected, 1L).toDouble)
    t.count("annotate.incremental", "carried_rows", carried.toDouble)
  }
}
