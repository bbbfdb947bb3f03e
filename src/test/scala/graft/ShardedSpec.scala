package graft

import org.apache.spark.broadcast.Broadcast
import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.{Corpus, NativeAnnotate, Scan, Sharded}
import graft.dict.{AnnotatorModel, AutomatonBuild, DictBuild}
import graft.fixture.OntologyFixture

/** S4 sharded-dictionary scan (SURVEY §5 ">driver-memory escape hatch"):
  * the native match scan over term-partitioned automaton shards must be
  * indistinguishable from the typed single-automaton reference
  * ([[Scan.annotateDirect]]) across the full option surface and any shard
  * count — including the one cross-shard semantic, longest_only, which a
  * shard-local filter would get wrong (a short match survives its shard
  * while its longer overlapper lives in another shard). */
class ShardedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val dict =
    DictBuild.build(DictBuild.labelRows(OntologyFixture.conceptsDf(spark)))
  private lazy val model =
    AutomatonBuild.broadcastModel(spark, AutomatonBuild.build(spark, dict, "v1"))
  private lazy val sharded = Sharded.buildModels(spark, dict, "v1", numShards = 4)
  private lazy val byK = Map(1 -> Sharded.buildModels(spark, dict, "v1", 1),
    4 -> sharded, 7 -> Sharded.buildModels(spark, dict, "v1", 7))
  private lazy val corpus = Corpus.extract(Corpus.readDriverDocuments(spark, sfDir))

  private type Row6 = (String, Int, Int, String, String, String)

  /** The typed reference's match set (camelCase columns). */
  private def typedSet(longest: Boolean, whole: Boolean = true): Set[Row6] =
    Scan.annotateDirect(corpus, model, longest, whole).toDF()
      .select("url", "from", "to", "classIri", "ont", "matchType").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet

  /** The native scan's match set over `models`. */
  private def nativeSet(models: Seq[Broadcast[AnnotatorModel]], longest: Boolean,
                        whole: Boolean = true): Set[Row6] =
    NativeAnnotate.annotateMatches(corpus, models, longest, whole)
      .select("url", "from", "to", "class_iri", "ont", "match_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet

  test("shards partition the dictionary (disjoint, complete, O(N/k) payloads)") {
    val k = 4
    val splits = Sharded.splitDict(dict, k)
    val total = dict.count()
    assert(splits.map(_.count()).sum === total)
    // ids are shard-LOCAL; reconstructed globals must be exactly the originals
    val globals = splits.zipWithIndex.flatMap { case (sd, s) =>
      sd.select("term_id").collect().map(_.getInt(0) * k + s)
    }
    val originals = dict.select("term_id").collect().map(_.getInt(0))
    assert(globals.sorted.toSeq === originals.sorted.toSeq)
    // the remap's purpose: per-shard payload arrays are O(N/k), not O(N)
    val maxGlobal = originals.max
    sharded.foreach { m =>
      assert(m.value.payload.length <= maxGlobal / k + 2,
        s"shard payload array ${m.value.payload.length} not O(N/k)")
    }
  }

  test("single-pass sharded scan == single automaton (all 4 option combos)") {
    for (longest <- Seq(false, true); whole <- Seq(true, false)) {
      val single = typedSet(longest, whole)
      assert(single.nonEmpty)
      for ((k, models) <- byK)
        assert(nativeSet(models, longest, whole) === single,
          s"numShards=$k longestOnly=$longest wholeWord=$whole")
    }
  }

  test("native sharded plan has no object-mode island") {
    for ((k, models) <- Seq(1 -> Seq(model), 4 -> sharded)) {
      val plan = NativeAnnotate.annotateMatches(corpus, models,
        longestOnly = true, wholeWord = true).queryExecution.executedPlan.toString
      assert(plan.contains("Generate"), s"k=$k: $plan")
      assert(!plan.contains("Exchange"), s"k=$k: shuffle in the scan plan: $plan")
      assert(!plan.contains("DeserializeToObject"), s"k=$k: object-mode island: $plan")
      assert(!plan.contains("MapPartitions"), s"k=$k: object-mode island: $plan")
    }
  }

  test("empty shard (numShards > term count) fails loudly, not with an NPE") {
    val e = intercept[IllegalArgumentException] {
      Sharded.buildModels(spark, dict, "v1", numShards = 10000)
    }
    assert(e.getMessage.contains("empty dictionary"))
  }

  test("shard-count robustness: k=1 (degenerate) and k=7 (uneven) still match") {
    // k=1 is the unsplit dictionary under the plain version: no split
    // filter, no shard suffix, the same payload layout as a direct build
    assert(byK(1).map(_.value.version) === Seq("v1"))
    assert(byK(1).head.value.payload.length === model.value.payload.length)
    assert(byK(7).map(_.value.version) === (0 until 7).map(s => s"v1-shard$s"))
    val single = typedSet(longest = true)
    for (k <- Seq(1, 7))
      assert(nativeSet(byK(k), longest = true) === single, s"numShards=$k")
  }

  test("DictionaryRecognizer: 4 shards == one model through the facade seam") {
    val opts = AnnotateOptions(longestOnly = true)
    def recognized(models: Seq[Broadcast[AnnotatorModel]]) =
      new Annotator.DictionaryRecognizer(models).recognize(corpus, opts)
        .collect().map(_.toSeq).toSet
    val shard = recognized(sharded)
    assert(shard === recognized(Seq(model)))
    assert(shard.nonEmpty)
  }

  test("cross-shard longest_only actually bites (shard-local filter would differ)") {
    // a document where a short term and its longer overlapper land in
    // DIFFERENT shards: scan per shard WITH longestOnly, union — if that
    // equals the correct result for every doc, the fixture can't pin the
    // semantics; assert the corpora differ somewhere so the test is live
    val perShardLongest = sharded
      .map(m => nativeSet(Seq(m), longest = true))
      .reduce(_ union _)
    val correct = nativeSet(sharded, longest = true)
    assert(correct === typedSet(longest = true))
    assert(correct.subsetOf(perShardLongest))
    assert(perShardLongest !== correct,
      "fixture corpus has no cross-shard overlap — longest_only semantics unpinned; " +
        "adjust shard count or fixture so the cross-shard case is exercised")
  }
}
