package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.KgGraph
import graft.ops.LinkGraph

/** Round-3 verdict item 8: the large-star/small-star trade was argued, not
  * measured, beyond raw sf0.1 (a 40-node concept graph where per-round fixed
  * overhead dominates). This probe measures the graph tier at the AMPLIFIED
  * bench-corpus scale (~2M pages) plus the adversarial long-path shape:
  *
  *  1. `cc_star_2m` / `cc_minlabel_2m` — connected components over the link
  *     graph of 2M synthesized pages (realistic shallow web shape: both
  *     converge in a handful of rounds; the star algorithm pays ~2× the
  *     per-round work, the documented toy-scale trade).
  *  2. `cc_star_path` / `cc_minlabel_path` — a 100k-node path graph: star
  *     contraction converges in O(log² n) rounds; min-label propagation
  *     needs O(diameter) rounds and is CAPPED here (the measured crossover:
  *     the shape the r3 rewrite bought safety against).
  *  3. `pagerank_2m` — directed PageRank with dangling mass over the same
  *     2M-page edge list (web_pagerank at scale).
  *
  * One JSON line on stdout; numbers land in BASELINE.md. Run:
  * `sbt "runMain graft.GraphScaleProbe [corpusPath] [section]"` with
  * section ∈ all | lp | pass9 | coreness | simrank | bowtie | paths |
  * louvain | robustness. Reuses (or materializes) the bench scaling
  * corpus.
  */
object GraphScaleProbe {

  /** The ROUND-2 min-label propagation, kept verbatim as the comparison
    * baseline (replaced in round 3 by large-star/small-star). Returns
    * (rounds, converged, seconds) and STOPS at `maxIter` instead of
    * throwing — the path case exists to measure non-convergence. */
  private def minLabelCC(edges: DataFrame, maxIter: Int): (Int, Boolean, Double) = {
    val t0 = System.nanoTime()
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .localCheckpoint()
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = und.join(labels, und("a") === labels("node"))
        .select(col("b").as("node"), col("component"))
      val next = labels.unionAll(msgs)
        .groupBy("node").agg(min(col("component")).as("component"))
        .localCheckpoint()
      val changed = next.alias("n")
        .join(labels.alias("l"), col("n.node") === col("l.node"))
        .filter(col("n.component") =!= col("l.component")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    (i, converged, (System.nanoTime() - t0) / 1e9)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val corpusPath = args.headOption.getOrElse("/tmp/graft-bench-corpus")
    // optional 2nd arg: run only one section ("lp" today) — re-probing a
    // new operator must not pay for re-measuring the settled ones
    val section = args.drop(1).headOption.getOrElse("all")
    val spark = Main.session("graft-graph-scale-probe")
    import spark.implicits._

    val fs = new org.apache.hadoop.fs.Path(corpusPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(corpusPath))) {
      Bench.materializeScalingCorpus(spark, "/root/testdata/sf0.1",
        amplify = 400, pad = 19, corpusPath, files = 32)
    }

    // 2M-page link graph: each amplified page gets its own DISTINCT
    // https URL as the graph node (LinkGraph.pages would re-synthesize urls
    // from doc_id into the tiny canonical universe, and the corpus's raw
    // doc:// urls don't parse under the https?:// canonicalizer — either
    // way the node set would collapse); hosts spread over 1000 domains, the
    // anchor trailer is synthesized from the url-hash doc_id.
    val docs = spark.read.parquet(corpusPath)
      .select(pmod(xxhash64(col("url")), lit(9000000000L)).as("doc_id"),
        col("text"))
      .select(concat(lit("https://h"), pmod(col("doc_id"), lit(1000L)),
        lit(".example/d/"), col("doc_id")).as("url"),
        col("doc_id"), col("text"))
    val pages = docs.select(col("url"),
      LinkGraph.syntheticHtml(col("doc_id"), col("text")).as("html"))
    val edges = LinkGraph.pageEdges(LinkGraph.links(pages))
      .localCheckpoint() // timed sections measure the ALGORITHMS, not extraction
    val nEdges = edges.count()
    val nNodes = edges.select(col("src").as("n"))
      .unionAll(edges.select(col("dst").as("n"))).distinct().count()

    if (section == "lp") {
      // layout section only: hash edge-cut baseline vs 3 LP rounds at the
      // graph-tier partition width (32 — the co-location question is asked
      // at the sink layout, not the toy-test width)
      val (hashRows, hashSec) = timed(
        LinkGraph.edgeCutStats(edges, partitions = 32).collect())
      val (lpRows, lpSec) = timed(
        LinkGraph.partitionLp(edges, partitions = 32, rounds = 3).collect())
      def pct(rows: Array[org.apache.spark.sql.Row], eIdx: Int, lIdx: Int) = {
        val e = rows.map(r => if (r.isNullAt(eIdx)) 0L else r.getLong(eIdx)).sum
        val l = rows.map(r => if (r.isNullAt(lIdx)) 0L else r.getLong(lIdx)).sum
        l.toDouble / e
      }
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""edge_cut_hash_sec":${f"$hashSec%.2f"},""" +
        s""""edge_cut_hash_pct_local":${f"${pct(hashRows, 1, 2)}%.4f"},""" +
        s""""partition_lp_sec":${f"$lpSec%.2f"},""" +
        s""""partition_lp_pct_local":${f"${pct(lpRows, 2, 3)}%.4f"}}""")
      spark.stop()
      return
    }

    if (section == "pass9") {
      // pass-8/9 graph ops at the 2M-page graph: k-source Brandes
      // betweenness (3 pinned seeds, 4-hop horizon — ~8 keyed-join rounds)
      // and the 3-truss peel (wedge join per round). Wall seconds + result
      // sizes; numbers land in BASELINE.md next to the star/min-label rows.
      // seeds = the 3 highest-out-degree sources (deterministic tie-break)
      // — alphabetically-first NODES can be sink-only pages whose BFS tree
      // is empty, which times nothing
      val seeds = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("src")).limit(3)
        .collect().map(_.getString(0)).toSeq
      val (btwRows, btwSec) = timed(
        KgGraph.betweenness(edges, seeds.toDF("node")).count())
      val (trussRows, trussSec) = timed(
        KgGraph.ktruss(edges, k = 3).count())
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""betweenness_sec":${f"$btwSec%.2f"},"betweenness_rows":$btwRows,""" +
        s""""ktruss_sec":${f"$trussSec%.2f"},"ktruss_rows":$trussRows}""")
      spark.stop()
      return
    }

    if (section == "coreness") {
      // pass-14 h-index coreness at the 2M-page graph: wall seconds +
      // the coreness histogram (the release card itself); rounds-to-
      // convergence is the claim under test (h-index cascades are local,
      // rounds ≈ graph-structure depth, not n)
      val ((hist, rows), sec) = timed {
        val c = KgGraph.coreness(edges, maxIter = 40)
        val h = c.groupBy("coreness").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (h, h.values.sum)
      }
      val hs = hist.toSeq.sortBy(_._1)
        .map { case (k, n) => s""""c$k":$n""" }.mkString(",")
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""coreness_sec":${f"$sec%.2f"},"coreness_nodes":$rows,$hs}""")
      spark.stop()
      return
    }

    if (section == "simrank") {
      // pass-11 threshold-sieved SimRank at the 2M-page graph: the two
      // published guards (hub cap + sieve) are the scale claim — this
      // measures the pair-state they actually admit and the wall cost
      // in-degree deciles first: the cap/sieve interplay depends on them
      val ind = edges.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      val dd = ind.stat.approxQuantile("d",
        Array(0.5, 0.9, 0.99, 1.0), 0.001).map(_.toLong)
      def run(cap: Int) = timed {
        val s1 = KgGraph.simRank(edges, iters = 3, degCap = cap)
        val n = s1.count()
        val t = s1.orderBy(col("simrank").desc).limit(1).collect()
          .headOption.map(_.getDouble(2)).getOrElse(0.0)
        (n, t)
      }
      val ((p64, t64), s64) = run(64)
      val ((p1k, t1k), s1k) = run(1024)
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""indeg_p50":${dd(0)},"indeg_p90":${dd(1)},"indeg_p99":${dd(2)},""" +
        s""""indeg_max":${dd(3)},""" +
        s""""simrank_cap64_sec":${f"$s64%.2f"},"simrank_cap64_pairs":$p64,""" +
        s""""simrank_cap64_top":$t64,""" +
        s""""simrank_cap1024_sec":${f"$s1k%.2f"},""" +
        s""""simrank_cap1024_pairs":$p1k,"simrank_cap1024_top":$t1k}""")
      spark.stop()
      return
    }

    if (section == "bowtie") {
      // bow-tie at the 2M-page graph: three BFS fixpoints; reports class
      // counts (the macro-structure card) + wall seconds
      val ((classes, rows), sec) = timed {
        val bt = KgGraph.bowtie(edges, maxRounds = 60)
        val counts = bt.groupBy("cls").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (counts, counts.values.sum)
      }
      val cls = Seq("CORE", "IN", "OUT", "TENDRIL", "DISCONNECTED")
        .map(c => s""""${c.toLowerCase}":${classes.getOrElse(c, 0L)}""")
        .mkString(",")
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""bowtie_sec":${f"$sec%.2f"},"bowtie_nodes":$rows,$cls}""")
      spark.stop()
      return
    }

    if (section == "paths") {
      // round-5: the BFS seed family at the 2M-page graph — multi-source
      // shortest paths (4-hop horizon, the web_shortest_paths shape) and
      // seed-harmonic centrality over the SAME frontier machinery. Seeds =
      // every page on host h1 (~1/1000 of the corpus — a bounded,
      // deterministic seed set with real out-structure).
      val seeds = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
        .filter(col("node").startsWith("https://h1.example/"))
        .localCheckpoint()
      val nSeeds = seeds.count()
      val (spRows, spSec) = timed(
        KgGraph.shortestPaths(edges, seeds, maxDepth = 4).count())
      val (haRows, haSec) = timed(
        KgGraph.harmonicFromSeeds(edges, seeds, maxDepth = 4).count())
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""n_seeds":$nSeeds,""" +
        s""""shortest_paths_sec":${f"$spSec%.2f"},"shortest_paths_rows":$spRows,""" +
        s""""harmonic_sec":${f"$haSec%.2f"},"harmonic_rows":$haRows}""")
      spark.stop()
      return
    }

    if (section == "robustness") {
      // round-5: the attack-robustness curve at the 2M-page graph — the
      // last components-family member without a scale reading. k ∈
      // {0, 5, 10} hub removals = three full star-contraction runs plus
      // the input canonicalization (distinct + self-loop filter) added
      // this round; the probe prices the WHOLE operator as shipped.
      val (rows, sec) = timed(
        KgGraph.attackRobustness(edges, ks = Seq(0, 5, 10)).collect())
      val curve = rows.map(r =>
        s"""[${r.getInt(0)},${r.getLong(2)},${r.getDouble(3)}]""")
        .mkString(",")
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""robustness_sec":${f"$sec%.2f"},"robustness_curve":[$curve]}""")
      spark.stop()
      return
    }

    if (section == "louvain") {
      // round-5: Louvain phase-1 sweep + conductance at the 2M-page graph
      // (page edges as the weighted graph, n_links as the edge weight —
      // the registry's ontology co-occurrence is enum²-bounded, so the
      // SCALE question only exists on the page graph). One sweep from the
      // singleton partition (= Louvain round 1) + the conductance audit of
      // the refined partition.
      val cooc = edges.select(col("src"), col("dst"),
        col("n_links").cast("long").as("n_docs")).localCheckpoint()
      val ((nMoved, lvRows), lvSec) = timed {
        val mv = KgGraph.louvainMove(cooc, KgGraph.singletonPartition(cooc))
          .localCheckpoint()
        (mv.filter(col("moved")).count(), mv.count())
      }
      val mv2 = KgGraph.louvainMove(cooc, KgGraph.singletonPartition(cooc))
        .select(col("class_iri"), col("community")).localCheckpoint()
      val (cdRows, cdSec) = timed(KgGraph.conductance(cooc, mv2).count())
      println(
        s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
        s""""louvain_move_sec":${f"$lvSec%.2f"},"louvain_nodes":$lvRows,""" +
        s""""louvain_moved":$nMoved,""" +
        s""""conductance_sec":${f"$cdSec%.2f"},"conductance_comms":$cdRows}""")
      spark.stop()
      return
    }

    val (_, starSec2m) = timed(KgGraph.connectedComponents(edges).count())
    val (mlRounds2m, mlConv2m, mlSec2m) = minLabelCC(edges, maxIter = 50)
    val (_, prSec2m) = timed(KgGraph.pageRankDirected(edges).count())

    // incremental components at scale (round-4 fourth pass): a 5% hash
    // slice of the 2M-page edges plays the "new crawl batch"; v1 labels are
    // PRECOMPUTED state (pinned, not timed — that is the operator's whole
    // premise), the timed section is the contraction + relabel only. The
    // honest comparison for "what does the daily delta cost vs a cold run".
    val isDelta = pmod(xxhash64(col("src"), col("dst")), lit(20)) === 0
    val oldLabels = KgGraph.connectedComponents(edges.filter(!isDelta))
      .localCheckpoint()
    oldLabels.count() // materialize before the clock starts
    val deltaEdges = edges.filter(isDelta).localCheckpoint()
    val (_, deltaSec2m) = timed(
      KgGraph.componentsDelta(oldLabels, deltaEdges).count())

    // adversarial shape: a 100k-node path (diameter 10^5). Star converges
    // in O(log² n) (~2·log₂ 10^5 ≈ 34 rounds, within the 60 cap); min-label
    // would need ~10^5 rounds, so it gets a FIXED, pre-committed cap of 40
    // rounds — enough to measure its per-round cost and extrapolate time to
    // convergence, cheap enough to keep the probe minutes-scale.
    val path = spark.range(99999L)
      .select(concat(lit("n"), format_string("%06d", col("id"))).as("src"),
        concat(lit("n"), format_string("%06d", col("id") + 1)).as("dst"))
      .withColumn("n_links", lit(1L))
      .localCheckpoint()
    val (_, starSecPath) = timed(KgGraph.connectedComponents(path, maxIter = 60).count())
    val (mlRoundsPath, mlConvPath, mlSecPath) = minLabelCC(path, maxIter = 40)

    // TransE trainer at scale (round-4 continuation): 2 hash-assigned
    // concepts per amplified page → ~4M facts over 2M+500 entities, ~8M
    // corruption pairs × 8 dims ≈ 64M long-format gather rows. Concepts
    // come from the url hash, NOT the real annotate scan — the probe times
    // the TRAINER (gather joins + window scores + gradient aggs + update +
    // re-eval), not dictionary matching, which the flagship bench already
    // owns.
    val facts = docs.select(col("url").as("subj"),
        lit("hasAnnotation").as("pred"),
        concat(lit("C"), pmod(xxhash64(col("url"), lit(1)), lit(500L))).as("obj"))
      .unionAll(docs.select(col("url").as("subj"),
        lit("hasAnnotation").as("pred"),
        concat(lit("C"), pmod(xxhash64(col("url"), lit(2)), lit(500L))).as("obj")))
      .localCheckpoint()
    val nFacts = facts.count() // materialize before the clock starts
    val (_, transeSec2m) = timed(graft.ops.KgEmbed.transeStep(facts).count())

    println(
      s"""{"corpus":"$corpusPath","n_nodes":$nNodes,"n_edges":$nEdges,""" +
      s""""cc_star_2m_sec":${f"$starSec2m%.2f"},""" +
      s""""cc_minlabel_2m_sec":${f"$mlSec2m%.2f"},"cc_minlabel_2m_rounds":$mlRounds2m,""" +
      s""""cc_minlabel_2m_converged":$mlConv2m,""" +
      s""""pagerank_2m_sec":${f"$prSec2m%.2f"},""" +
      s""""cc_delta_2m_sec":${f"$deltaSec2m%.2f"},""" +
      s""""cc_star_path_sec":${f"$starSecPath%.2f"},""" +
      s""""cc_minlabel_path_sec":${f"$mlSecPath%.2f"},"cc_minlabel_path_rounds":$mlRoundsPath,""" +
      s""""cc_minlabel_path_converged":$mlConvPath,""" +
      s""""transe_n_facts":$nFacts,"transe_step_2m_sec":${f"$transeSec2m%.2f"}}""")
    spark.stop()
  }
}
