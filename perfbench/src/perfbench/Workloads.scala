package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.{OntologyTables, Pipeline}
import graft.graph.KgGraph
import graft.io.TableIO
import graft.ops.KgEmbed

/** One generated ontology, corpus and dictionary release, written as the
  * tables the pipeline reads: `documents.parquet` under the input dir,
  * ontology tables and the release's concept table beside it. */
final class AnnotateData(seed: Long, concepts: Int, docs: Int) {
  val onto: Gen.Ontology = Gen.ontology(seed, concepts)
  val pages: Vector[Gen.Doc] = Gen.corpus(seed, onto, docs)
  val release: Gen.Release = Gen.release(seed, onto)
  var input: String = _
  var tables: OntologyTables = _
  var v2: DataFrame = _

  def digest: String = Gen.digest(
    onto.concepts.iterator.map(Gen.rows) ++
      onto.edges.iterator.map(e => s"${e._1}\t${e._2}") ++
      onto.mappings.iterator.map(m => s"${m._1}\t${m._2}") ++
      pages.iterator.map(d => s"${d.id}\t${d.text}") ++
      release.concepts.iterator.map(Gen.rows))

  def write(ctx: Ctx, dir: String): Unit = {
    input = dir
    AnnotateData.rows(ctx, pages.map(d => Row(d.id, d.text, "en")),
      "doc_id BIGINT, text STRING, lang STRING")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    tables = OntologyTables(
      AnnotateData.table(ctx, s"$dir/concepts", AnnotateData.conceptsDf(ctx, onto.concepts)),
      AnnotateData.table(ctx, s"$dir/edges", AnnotateData.rows(ctx,
        onto.edges.map(e => Row(e._1, e._2)), "child_iri STRING, parent_iri STRING")),
      AnnotateData.table(ctx, s"$dir/mappings", AnnotateData.rows(ctx,
        onto.mappings.map(m => Row(m._1, m._2, "CUI")),
        "class_iri STRING, mapped_iri STRING, kind STRING")))
    v2 = AnnotateData.table(ctx, s"$dir/concepts_v2",
      AnnotateData.conceptsDf(ctx, release.concepts))
  }

  def config(workDir: String, version: String = "v1"): Pipeline.Config =
    Pipeline.Config(input, workDir, dictVersion = version, ontology = Some(tables))

  /** The program's release cycle on a fresh work dir: the full run, then
    * the dictionary refresh applied to it. Returns both calls' times. */
  def cycle(ctx: Ctx, dir: String): Seq[(String, Double)] = Seq(
    "run_s" -> Util.timed(Pipeline.run(ctx.spark, config(dir)))._2,
    "refresh_s" -> Util.timed(Pipeline.runIncremental(ctx.spark, config(dir, "v2"), v2))._2)
}

object AnnotateData {
  def rows(ctx: Ctx, rs: Seq[Row], ddl: String): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rs: _*), StructType.fromDDL(ddl))

  def conceptsDf(ctx: Ctx, cs: Vector[Gen.Concept]): DataFrame =
    rows(ctx, cs.map(c => Row(c.iri, c.ont, c.pref, c.synonyms, Seq(c.tui), c.cui)),
      "class_iri STRING, ont STRING, pref_label STRING, synonyms ARRAY<STRING>, " +
        "tuis ARRAY<STRING>, cui STRING")

  /** Writes the table and returns it read back, as the program's input. */
  def table(ctx: Ctx, path: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    ctx.spark.read.parquet(path)
  }
}

/** The annotate side: per job, a fresh `Pipeline.run` over ~8k concepts in
  * 8 ontologies and 1k abstract-length pages, then `runIncremental` of a
  * ~1 % dictionary release on the same work dir. Set-up warms the JVM
  * with one cycle over a small input of the same shape: class loading,
  * code generation and most JIT work do not depend on input size. */
final class AnnotateRefresh(seed: Long) extends Workload {
  private val (concepts, nDocs) = (8000, 1000)
  private val sampleSize = 200

  private var data: AnnotateData = _
  private var warm: AnnotateData = _
  private var first: Option[String] = None
  private def onto = data.onto
  private def pages = data.pages

  def docs: Long = pages.size.toLong

  def generate(): String = {
    data = new AnnotateData(seed, concepts, nDocs)
    warm = new AnnotateData(seed ^ Gen.WarmSeed, 2000, 150)
    data.digest
  }

  def regenerate(): String = new AnnotateData(seed, concepts, nDocs).digest

  def write(ctx: Ctx): Unit = {
    data.write(ctx, ctx.dir("input"))
    warm.write(ctx, ctx.dir("input-warmup"))
  }

  def setup(ctx: Ctx): Unit = {
    warm.cycle(ctx, ctx.dir("warmup"))
    Util.delete(new File(ctx.dir("warmup")))
  }

  private def outputs(dir: String) = Seq(s"$dir/triples", s"$dir/triples_v2")

  def job(ctx: Ctx, dir: String): JobOut = {
    val steps = data.cycle(ctx, dir)
    val keep = first.isEmpty // the first job's stages serve the traffic count
    if (keep) first = Some(dir)
    JobOut(steps.map(_._2).sum, outputs(dir), if (keep) Nil else Seq(dir), steps)
  }

  def traced(ctx: Ctx, dir: String): JobOut = {
    Compose.last.clear()
    val steps = Seq(
      "run_s" -> Util.timed(Compose.bulk(ctx, data.config(dir), data.tables))._2,
      "refresh_s" -> Util.timed(
        Compose.refresh(ctx, data.config(dir, "v2"), data.tables, data.v2))._2)
    JobOut(steps.map(_._2).sum, outputs(dir), Seq(dir), steps)
  }

  private lazy val sample: Vector[Gen.Doc] = {
    val r = new java.util.SplittableRandom(seed)
    Vector.fill(sampleSize)(pages(r.nextInt(pages.size))).distinct
  }
  private lazy val reference = new Check.Annotations(onto.concepts, onto.edges, onto.mappings)
  private lazy val referenceV2 =
    new Check.Annotations(data.release.concepts, onto.edges, onto.mappings)

  def check(ctx: Ctx, out: JobOut): Seq[String] = {
    val Seq(v1, v2) = out.outputs.map(ctx.spark.read.parquet(_))
    Check.sampleTriples(v1, reference, sample, "v1") ++
      Check.sampleTriples(v2, referenceV2, sample, "v2")
  }

  override def layerCounts(ctx: Ctx, out: JobOut): Unit = {
    Compose.annotateCounts(ctx, "v1")
    Compose.annotateCounts(ctx, "v2")
    Compose.ratios(ctx)
    Compose.refreshCounts(ctx, new File(out.outputs.head).getParent, docs)
  }

  /** Dictionary and annotation volume, the release's dictionary delta and
    * the share of pages it touches: the dictionary side and the affected
    * pages from the reference (a page is affected when it has a hit on a
    * removed dictionary row or on an added term, the program's
    * definition), the annotation side from the first job's work dir. */
  def traffic(ctx: Ctx): Seq[(String, String)] = {
    val dir = first.getOrElse(return Nil)
    val terms = reference.terms
    val n = docs.toDouble
    def rows(stage: String) = ctx.spark.read.parquet(s"$dir/$stage").count()
    val (dictV1, dictV2) = (reference.dictRows, referenceV2.dictRows)
    val removed = dictV1 -- dictV2
    val addedTerms = (dictV2 -- dictV1).map(_._1)
    val affected = pages.count { d =>
      reference.hits(d.text).exists(removed) || referenceV2.hits(d.text).exists(h => addedTerms(h._1))
    }
    Seq(
      "concepts" -> onto.concepts.size.toString,
      "terms" -> terms.size.toString,
      // trie states: the root plus one per distinct term prefix
      "automaton_states" -> (1 + terms.flatMap(t => (1 to t.length).map(t.take)).toSet.size).toString,
      "docs" -> pages.size.toString,
      "text_mb" -> f"${pages.map(_.text.length.toLong).sum / 1e6}%.2f",
      "matches_per_doc" -> f"${rows("matches") / n}%.2f",
      "triples_per_doc" -> f"${rows("triples") / n}%.2f",
      "closure_rows" -> reference.closureRows.toString,
      "mappings" -> onto.mappings.size.toString,
      "release_dropped_synonyms" -> data.release.droppedSynonyms.toString,
      "release_added_concepts" -> data.release.added.toString,
      "removed_dict_rows" -> removed.size.toString,
      "added_dict_rows" -> (dictV2 -- dictV1).size.toString,
      "affected_frac" -> f"${affected / n}%.4f")
  }
}

/** The graph-release job over a generated page graph and annotation facts,
  * each operator's result written as a release table. */
final class KgAnalytics(seed: Long) extends Workload {
  private val (concepts, scale, facts) = (8000, 9, 4000)

  private var graph: Gen.Graph = _
  private var warm: Gen.Graph = _
  private var input: (DataFrame, DataFrame) = _

  def docs: Long = graph.nodes.toLong
  /** The job is hundreds of short Spark jobs, and the first one after the
    * small warm-up still pays JIT work that grows with input size: two
    * jobs are steadier than one. */
  override def minJobs: Int = 2

  private def make(): Gen.Graph = Gen.graph(seed, Gen.ontology(seed, concepts), scale, facts)

  private def digest(g: Gen.Graph): String =
    Gen.digest(g.edges.iterator.map(e => s"${e._1}\t${e._2}\t${e._3}") ++
      g.facts.iterator.map(f => s"${f._1}\t${f._2}\t${f._3}"))

  def generate(): String = {
    graph = make()
    warm = Gen.graph(seed ^ Gen.WarmSeed, Gen.ontology(seed ^ Gen.WarmSeed, 2000), 7, 800)
    digest(graph)
  }

  def regenerate(): String = digest(make())

  private def write(ctx: Ctx, g: Gen.Graph, dir: String): (DataFrame, DataFrame) =
    (AnnotateData.table(ctx, s"$dir/edges", AnnotateData.rows(ctx,
      g.edges.map(e => Row(e._1, e._2, e._3)), "src STRING, dst STRING, n_links BIGINT")),
      AnnotateData.table(ctx, s"$dir/facts", AnnotateData.rows(ctx,
        g.facts.map(f => Row(f._1, f._2, f._3)), "subj STRING, pred STRING, obj STRING")))

  def write(ctx: Ctx): Unit = input = write(ctx, graph, ctx.dir("input"))

  /** Warms the JVM with one job over a small graph of the same shape:
    * class loading, code generation and most JIT work do not depend on
    * input size. */
  def setup(ctx: Ctx): Unit = {
    release(ctx, write(ctx, warm, ctx.dir("input-warmup")), ctx.dir("warmup"), traced = false)
    Util.delete(new File(ctx.dir("warmup")))
  }

  /** (layer, release table, step name, operator call) in job order. */
  private def ops(edges: DataFrame, facts: DataFrame): Seq[(String, String, String, () => DataFrame)] = Seq(
    ("graph.components", "components", "components_s",
      () => KgGraph.connectedComponents(edges.select("src", "dst"))),
    ("graph.pagerank", "pagerank", "pagerank_s", () => KgGraph.pageRankDirected(edges)),
    ("graph.coreness", "coreness", "coreness_s",
      () => KgGraph.coreness(edges.select("src", "dst"))),
    ("ops.embed", "transe", "transe_step_s", () => KgEmbed.transeStep(facts)))

  /** Every operator's result written as a release table; traced, each call
    * runs in its layer's span with its result forced there, and the write
    * runs under `io`. */
  private def release(ctx: Ctx, in: (DataFrame, DataFrame), dir: String,
                      traced: Boolean): JobOut = {
    val io = TableIO.forSession(ctx.spark, dir)
    val t0 = System.nanoTime()
    val calls = ops(in._1, in._2)
    val steps = calls.map { case (layer, table, step, op) =>
      step -> Util.timed {
        if (traced) {
          val df = ctx.trace.span(layer)(op().localCheckpoint())
          ctx.trace.span("io")(io.write(df, table, Nil))
        } else io.write(op(), table, Nil)
      }._2
    }
    JobOut((System.nanoTime() - t0) / 1e9, calls.map(o => s"$dir/${o._2}"), Seq(dir), steps)
  }

  def job(ctx: Ctx, dir: String): JobOut = release(ctx, input, dir, traced = false)
  def traced(ctx: Ctx, dir: String): JobOut = release(ctx, input, dir, traced = true)

  def check(ctx: Ctx, out: JobOut): Seq[String] = {
    val Seq(c, p, k, t) = out.outputs.map(o => ctx.spark.read.parquet(o).collect())
    Check.graphRelease(graph.edges, c, p, k, t)
  }

  override def layerCounts(ctx: Ctx, out: JobOut): Unit = {
    val transe = ctx.spark.read.parquet(out.outputs.last)
    ctx.trace.count("ops.embed", "pairs", transe.agg(sum("n_pairs")).head().getLong(0).toDouble)
    ctx.trace.count("graph.components", "components",
      ctx.spark.read.parquet(out.outputs.head).select("component").distinct().count().toDouble)
  }

  def traffic(ctx: Ctx): Seq[(String, String)] = {
    val deg = scala.collection.mutable.HashMap.empty[String, Long]
    graph.edges.foreach { case (a, b, _) =>
      deg(a) = deg.getOrElse(a, 0L) + 1; deg(b) = deg.getOrElse(b, 0L) + 1
    }
    Seq("pages" -> graph.nodes.toString, "linked_pages" -> deg.size.toString,
      "edges" -> graph.edges.size.toString,
      "links" -> graph.edges.map(_._3).sum.toString,
      "max_degree" -> deg.values.max.toString,
      "facts" -> graph.facts.size.toString)
  }
}
