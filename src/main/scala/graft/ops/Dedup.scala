package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.annotate.Corpus

/** Deduplication operators for training-data curation: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, SimHash, benchmark decontamination. Scale
  * notes inline — the LSH paths exist precisely because the O(n²) exact
  * paths don't survive 100 TB.
  *
  * Provenance: builder-brief extras, NOT derived from the reference (the
  * NCBO annotator has no dedup surface — SURVEY.md §3.4). Algorithms are
  * public: MinHash (Broder 1997), SimHash (Charikar 2002; Manku et al. 2007
  * banding), shingle inverted-index Jaccard (standard IR).
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the min doc_id as survivor.
    * The group key is NOT the text itself — at 100 TB that would shuffle the
    * whole corpus' bytes. Instead two independently-seeded xxhash64 values +
    * the length form a fixed-width (~20 B) composite key, and only the
    * aggregates move. Collision risk: a false merge needs two DIFFERENT
    * texts agreeing on both 64-bit hashes AND length — ~2^-128 per pair,
    * ≈ 3e-15 expected false merges across the C(10^12, 2) pairs of the
    * target corpus, far below any operational concern (and the sf-scale
    * DuckDB oracle, which groups by raw text, hash-verifies the shortcut on
    * every run). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(
        xxhash64(lit(1), col("text")).as("h1"),
        xxhash64(lit(2), col("text")).as("h2"),
        length(col("text")).as("n"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Token n-gram shingles of `text` as an array column (n consecutive
    * whitespace tokens joined by a single space). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    // guard: Spark sequence(1, stop) DESCENDS when stop < 1 → short docs
    // must yield an empty shingle set, not a broken slice
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Shared capped-posting-list candidate machinery behind [[jaccardPairs]]
    * and [[containmentPairs]] — per candidate pair (a < b): shared-shingle
    * count + both full shingle-set sizes (sizes computed BEFORE the rarity
    * filter). Inverted-index formulation with MAP-SIDE pair generation: ONE
    * shuffle total — per-doc shingle dedup happens map-side
    * (`array_distinct` before the explode; (doc_id, shingle) duplicates
    * only exist WITHIN a doc, so a row-level `distinct()` exchange would be
    * pure waste), and the posting shuffle keys on `xxhash64(shingle)`
    * instead of the shingle string (8-byte keys vs ~25-byte text n-grams —
    * the dedup_exact trick; a colliding pair of distinct shingles inflates
    * one intersection count by 1 with probability ~2^-64, and the
    * raw-string DuckDB oracles re-prove the shortcut on every verify run).
    * Posting lists are rarity-bounded so the per-group pair blow-up is
    * ≤ C(maxDocFreq,2); candidate pairs are emitted by array expressions —
    * no second shuffle of per-shingle rows and no self-join. */
  /** Distinct hashed n-token windows of `text`: `xxhash64` over the SLICED
    * token array (per-element seed chaining, so ("a b","c") and ("a","b c")
    * hash differently) instead of hashing a materialized shingle STRING —
    * the per-window `array_join` allocation was the dominant map-side cost
    * of the candidate machinery, and the posting key was already the 8-byte
    * hash. |distinct hashed windows| equals the distinct-string count up to
    * the same ~2^-64-per-pair collision class the hashed posting keys
    * already carry (raw-string DuckDB oracles re-prove it on every run). */
  private def hashedShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => xxhash64(slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<long>"))
  }

  private def pairIntersections(docs0: DataFrame, n: Int,
                                maxDocFreq: Int): DataFrame = {
    val docs = Corpus.spread(docs0)
    val sizes = docs.select(col("doc_id"),
      size(hashedShingles(col("text"), n)).as("n_shingles"))
    val postings = docs
      .select(col("doc_id"), explode(hashedShingles(col("text"), n)).as("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, maxDocFreq))
    val pairs = postings.select(explode(flatten(transform(col("docs"),
      (x, i) => transform(
        slice(col("docs"), i + lit(2),
          greatest(size(col("docs")) - i - lit(1), lit(0))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("size_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("size_b")), Seq("doc_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold) over
    * [[pairIntersections]]; thresholded RAW, rounded to 4dp for output
    * (cross-engine float contract). */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxDocFreq: Int = 100): DataFrame =
    pairIntersections(docs, n, maxDocFreq)
      // threshold on the RAW jaccard (oracle parity); round only for output
      .withColumn("jaccard_raw",
        col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))

  /** Broder CONTAINMENT pairs — the ASYMMETRIC near-dup relation Jaccard
    * misses: c(A in B) = |S(A)∩S(B)| / |S(A)| (Broder 1997 defines both
    * resemblance and containment; dedup pipelines ship resemblance and then
    * wonder why syndicated wrappers survive). A quote page or a
    * boilerplate-wrapped syndication copy has containment ≈ 1 in one
    * direction while its Jaccard sits far below any dedup threshold
    * (sizes differ), so this is the operator that catches sub-document
    * duplication at the whole-relation level (span dedup catches it at
    * the position level).
    *
    * Same scale shape as [[jaccardPairs]] — identical capped-posting-list
    * candidate generation (hashed 8-byte keys, map-side pair explosion, ONE
    * shuffle), one extra size join; thresholded RAW on the LARGER direction
    * (either containment qualifies a pair), rounded 4dp for output. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
                       maxDocFreq: Int = 100): DataFrame =
    pairIntersections(docs, n, maxDocFreq)
      .withColumn("ca_raw", col("n_common") / col("size_a"))
      .withColumn("cb_raw", col("n_common") / col("size_b"))
      .filter(greatest(col("ca_raw"), col("cb_raw")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("ca_raw"), 4).as("containment_a"),
        round(col("cb_raw"), 4).as("containment_b"))

  /** Deterministic quote-page synthesis for the containment tests/oracle:
    * every 13th doc gains a companion (doc_id + 100000) holding its first
    * 60 % of tokens — containment(quote in source) = 1.0 by construction,
    * Jaccard well under the 0.8 dedup threshold. */
  def withQuotes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "(3 * size(split(text, ' '))) div 5), ' ')").as("text")))

  /** Double-hashing modulus: the largest prime below 2^59, so
    * h1 + 15·h2 < 16·P < 2^63 — no Long overflow anywhere in the chain. */
  val MinhashP: Long = 576460752303423433L

  /** MinHash signature columns: k permutations via Kirsch–Mitzenmacher
    * double hashing, mh_i = (h1 + i·h2) mod P, where (h1, h2) are the two
    * 60-bit halves of ONE md5 per shingle (hex chars 1-15 and 17-31). md5 is
    * a codegen'd built-in in Spark AND exists verbatim in DuckDB (the '0x'
    * hex cast recovers the same integers), which makes the whole
    * minhash+LSH pipeline independently recomputable by the SQL oracle —
    * and one md5 per shingle instead of k salted hashes keeps the signature
    * stage within ~1.1× of the engine-private xxhash64 formulation. */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame = {
    // the no-overflow proof above is h1 + (k-1)·h2 < k·P ≤ 16·P < 2^63
    require(k <= 16, s"k=$k: double-hashing overflow bound holds only for k <= 16")
    // array_distinct before the explode: a min over the shingle SET equals
    // the min over the multiset, and md5 (the dominant per-row cost of the
    // signature stage) runs once per distinct shingle instead of once per
    // occurrence; [[Corpus.spread]] keeps that md5 map parallel on low-split
    // inputs
    val ds = Corpus.spread(docs)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("shingle"))
      .withColumn("hx", md5(col("shingle")))
      .select(col("doc_id"),
        (conv(substring(col("hx"), 1, 15), 16, 10).cast("long") % MinhashP).as("h1"),
        (conv(substring(col("hx"), 17, 15), 16, 10).cast("long") % MinhashP).as("h2"))
    val aggs = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % MinhashP).as(s"mh_$i"))
    ds.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Signature table → capped LSH band rows `(doc_id, band, bucket [, …])`:
    * ONE signature aggregation, exploded into band rows (a per-band union
    * would recompute the shingle+minhash aggregation `bands` times —
    * verified in the physical plan: 4 redundant exchanges), then the
    * hot-bucket guard skips (band, bucket) groups above `maxBucket`. Extra
    * columns on `sigs` (e.g. an `is_new` tag) ride along. */
  private def bandedRows(sigs: DataFrame, k: Int, bands: Int,
                         maxBucket: Int): DataFrame = {
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"mh_$i"))
      // bucket key = the band's minhashes joined verbatim (portable; the
      // oracle rebuilds the identical key from the same decimal strings)
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("bucket"))
    }
    val extras = sigs.columns.filterNot(c => c == "doc_id" || c.startsWith("mh_"))
      .map(col).toSeq
    sigs
      .select(col("doc_id") +: explode(array(bandStructs: _*)).as("bb") +: extras: _*)
      .select(col("doc_id") +: col("bb.band").as("band") +:
        col("bb.bucket").as("bucket") +: extras: _*)
      .withColumn("bucket_pop", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("bucket_pop") <= maxBucket)
      .drop("bucket_pop")
  }

  /** Exact-Jaccard rerank of a candidate pair set against the doc table:
    * shingle sets are computed ONLY for docs that appear in a candidate
    * pair (semi-join pruning — at the incremental scale the candidate set
    * is daily-batch-sized, not corpus-sized). Thresholds the RAW jaccard
    * (same contract as jaccardPairs + the oracle); rounds only for output. */
  private def rerankPairs(candidates: DataFrame, docs: DataFrame, n: Int,
                          threshold: Double): DataFrame = {
    val ids = candidates.select(col("doc_a").as("doc_id"))
      .unionAll(candidates.select(col("doc_b").as("doc_id"))).distinct()
    // hashed windows (see [[hashedShingles]]): intersection/union sizes over
    // the hashed sets equal the string-set sizes up to the documented
    // ~2^-64 collision class, and the candidate docs skip string building.
    // Corpus.spread wraps the RAW doc scan, before the pruning semi-join
    val ds = Corpus.spread(docs).join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
    candidates
      .join(ds.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(ds.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard_raw",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** MinHash + LSH near-dup candidates with exact-Jaccard rerank:
    * shingle → k minhashes → bands of r → bucket-join on (band, bucket-hash)
    * → candidate pairs → rerank. The scale path: cost is linear in corpus +
    * bucket collisions, never all-pairs. `maxBucket` bounds the population
    * of a single (band, bucket) before the self-join — the boilerplate /
    * hot-bucket skew guard; larger buckets are SKIPPED for that band (pairs
    * can still surface via the other bands), trading recall on mega-clusters
    * for bounded O(maxBucket²) per-bucket work. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val bounded = bandedRows(minhashSignatures(docs, n, k), k, bands, maxBucket)
    // TRUE self-join of one plan (identical subtrees), so Catalyst's
    // ReuseExchange computes the signature aggregation ONCE and replays the
    // shuffle for the other side — aliased left/right projections would be
    // distinct plans and recompute the full shingle+minhash pass twice
    val lj = bounded.alias("l")
    val rj = bounded.alias("r")
    val candidates = lj.join(rj,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b")).distinct()
    rerankPairs(candidates, docs, n, threshold)
  }

  /** INCREMENTAL near-dup detection — the production shape: a new crawl
    * batch lands and only (new × all) pairs matter; old × old was settled
    * when the old corpus was ingested. Returns exactly
    * `minhashLshPairs(old ∪ new)` restricted to pairs touching a new doc
    * (equivalence spec-pinned): band rows of both sides share one bucket
    * population (so the hot-bucket cap behaves identically to a full run),
    * the candidate join requires at least one NEW side, and the exact
    * rerank reads text only for docs that appear in a candidate pair.
    *
    * Scale shape: the old side's signatures are a pure function of the old
    * corpus — at 10^12 docs they are computed ONCE at ingest and stored
    * (the [[minhashSignatures]] output is exactly that table), so a daily
    * increment costs new-batch signatures + one bucket join against the
    * stored band keys + a rerank over candidate texts — linear in the
    * increment, never in the corpus. THIS convenience form recomputes both
    * signature sides from raw docs (the small-job / test shape); the scale
    * path is [[minhashIncrementalPairsFromSigs]], which takes the stored
    * signature table (parquet/Iceberg read) directly. */
  def minhashIncrementalPairs(oldDocs: DataFrame, newDocs: DataFrame,
                              n: Int = 3, k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.8,
                              maxBucket: Int = 1000): DataFrame =
    minhashIncrementalPairsFromSigs(
      minhashSignatures(oldDocs, n, k), minhashSignatures(newDocs, n, k),
      oldDocs.unionByName(newDocs), n, k, bands, threshold, maxBucket)

  /** The stored-signature form of [[minhashIncrementalPairs]] — the actual
    * 10^12-doc shape: `oldSigs` is the persisted signature table from
    * ingest (never recomputed), `newSigs` the increment's signatures, and
    * `docs` a text source covering every doc that can appear in a candidate
    * pair (the rerank semi-joins it down to candidates only, so at scale
    * this is the corpus table read through predicate pushdown, not a
    * materialized copy). */
  def minhashIncrementalPairsFromSigs(oldSigs: DataFrame, newSigs: DataFrame,
                                      docs: DataFrame,
                                      n: Int = 3, k: Int = 16, bands: Int = 4,
                                      threshold: Double = 0.8,
                                      maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sigs = oldSigs.withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
    val bounded = bandedRows(sigs, k, bands, maxBucket)
    val lj = bounded.alias("l")
    val rj = bounded.alias("r")
    val candidates = lj.join(rj,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id") &&
          (col("l.is_new") || col("r.is_new")))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b")).distinct()
    rerankPairs(candidates, docs, n, threshold)
  }

  /** Exact-substring span dedup at token granularity (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    * shape, on token windows): every duplicated window of `k` consecutive
    * tokens marks its positions for REMOVAL unless this occurrence is the
    * corpus-wide FIRST (min (doc_id, pos) per window content). Overlapping
    * duplicated windows merge for free — marking is per token position —
    * so a 200-token copied passage disappears as one maximal span while its
    * first occurrence survives verbatim. Stronger than [[graft.ops.WebOps
    * .chunkDedup]]'s fixed-boundary form: a duplicate straddling a chunk
    * boundary still dies here.
    *
    * Scale shape: window explosion is map-side; the window-keyed exchange
    * carries the [[exact]] 128-bit (2×xxhash64+len) key + (doc_id, pos) —
    * never text; the non-first-occurrence join is keyed on the same hash
    * triple; marked positions aggregate per doc (int lists); the ONLY
    * text-bearing exchange is the output-sized doc-keyed rebuild join (the
    * chunkDedup argument, verbatim). */
  def spanDedup(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = split(col("text"), " ")
    // windows: pos p (1-based) covers token positions p..p+k-1
    val keyed = docs
      .select(col("doc_id"), posexplode(shingles(col("text"), k))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        xxhash64(lit(1), col("gram")).as("h1"),
        xxhash64(lit(2), col("gram")).as("h2"),
        length(col("gram")).as("n"))
    val first = keyed.groupBy("h1", "h2", "n")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    // occurrences that are NOT the first: their k positions are marked
    val marked = keyed.join(first, Seq("h1", "h2", "n"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tp"))
      .groupBy("doc_id")
      .agg(collect_set(col("tp")).as("drop_pos"))
    docs.select(col("doc_id"), col("text"))
      .join(marked, Seq("doc_id"), "left") // null drop_pos → keep everything
      .select(col("doc_id"),
        array_join(filter(transform(toks, (t, i) =>
            when(array_contains(col("drop_pos"), i + 1), lit(null)).otherwise(t)),
          t => t.isNotNull), " ").as("text_dedup"))
  }

  /** Content-defined chunking (the FastCDC/LBFS idea at token granularity):
    * a token CLOSES a chunk when `fingerprint64(token) % divisor == 0`, so
    * boundaries are a pure function of local content — inserting or
    * deleting a token early in a document shifts FIXED chunk frames for the
    * whole rest of the doc, but content-defined boundaries resynchronize at
    * the next boundary token and every later chunk hashes identically (the
    * property CdcSpec pins; mean chunk length ≈ `divisor` tokens).
    * Entirely MAP-ONLY: mark each token with its separator (boundary →
    * US control char, else space) in one `transform`, join, split, drop
    * empties — the RFC 3986 fold discipline, linear per doc. Divisor must
    * divide 2^64 (a power of two) so unsigned HUGEINT `%` in the oracle
    * equals signed `pmod` here. */
  def cdcChunks(docs: DataFrame, divisor: Int = 4): DataFrame = {
    require(divisor > 0 && (divisor & (divisor - 1)) == 0,
      s"divisor must be a power of two, got $divisor")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val marked = transform(split(col("text"), " "), t => concat(t,
      when(pmod(call_function("fingerprint64", t), lit(divisor.toLong)) === 0,
        lit("\u001f")).otherwise(lit(" "))))
    val segs = transform(split(array_join(marked, ""), "\u001f"), c => trim(c))
    docs
      .select(col("doc_id"),
        posexplode(filter(segs, c => length(c) > 0)).as(Seq("i0", "chunk")))
      .select(col("doc_id"), (col("i0") + 1).as("chunk_idx"), col("chunk"))
  }

  /** First-occurrence dedup over [[cdcChunks]]: keeper = min (doc_id,
    * chunk_idx) per chunk, copies counted on the same aggregate. The
    * exchange key is the 8-byte `fingerprint64` of the chunk text — chunk
    * bytes never shuffle (the hashed-key chunkDedup discipline; collision
    * math as [[exact]]). The variable-boundary sibling of the fixed-frame
    * C4 passage dedup: boundary-straddling edits stop invalidating every
    * downstream chunk. */
  def cdcDedup(docs: DataFrame, divisor: Int = 4): DataFrame =
    cdcChunks(docs, divisor)
      .select(col("doc_id"), col("chunk_idx"),
        call_function("fingerprint64", col("chunk")).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keep"),
        count(lit(1)).as("n_copies"))
      .select(col("keep.doc_id").as("doc_id"),
        col("keep.chunk_idx").as("chunk_idx"),
        col("chunk_hash"), col("n_copies"))

  /** 64-bit SimHash per doc via the native codegen expression
    * [[graft.functions.Simhash64]] — stays inside whole-stage codegen (no
    * object-mode island); scalar contract is [[simhash64]]. */
  def simhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // [[Corpus.spread]]: the per-token 64-bit vote loop is the map cost here
    Corpus.spread(docs).select(col("doc_id").cast("long").as("doc_id"),
      expr("simhash64(text)").as("simhash"))
  }

  /** Scalar SimHash (shared by the Dataset op and tests). Token hash =
    * fingerprint64 (deterministic, no JVM-hash dependence). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.split(" ").foreach { tok =>
      val h = TextOps.fingerprint64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup candidates: 4×16-bit band LSH (Hamming ≤ 3 guarantees
    * ≥ 1 identical band by pigeonhole), then exact Hamming rerank.
    * Skew note: bucket population follows the corpus' signature diversity —
    * real web corpora spread across the 2^16 buckets, while narrow-vocabulary
    * corpora (like the synthetic test tables) can concentrate into hot
    * buckets and quadratic candidate blow-up. At cluster scale, guard with
    * AQE skew-join splitting (on) and, if needed, a per-bucket population cap
    * — capped buckets must be LOGGED as dropped coverage, never silent.
    * `maxHamming` MUST be ≤ 3: the pigeonhole guarantee (≥ 1 identical band)
    * only holds up to bands−1 differing bits; beyond that, candidate
    * generation silently under-recalls. Enforced. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-band pigeonhole guarantee (max 3); " +
        "use more bands or a multi-probe scheme for larger radii")
    val sh = simhash(docs)
    // single pass + band explode (same rationale as minhashLshPairs)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    val bandRows = sh
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // true self-join (ReuseExchange — see minhashLshPairs) that CARRIES the
    // signatures through, so no rerank re-join against the full-text
    // signature scan is needed at all: hamming filters inline
    val lj = bandRows.alias("l")
    val rj = bandRows.alias("r")
    lj.join(rj,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding cosine near-dup pairs (≥ threshold) via Similarity's LSH
    * candidates — see [[Similarity.cosineDupPairs]]. */

  /** Decontamination ATTRIBUTION — the report eval owners actually read:
    * per BENCHMARK item, how many corpus docs it leaked into and the total
    * shingle overlap (the [[decontaminate]] semi-join keeps no bench
    * attribution; this keys the same bounded bench-shingle broadcast by
    * bench doc instead). Same scale shape: the benchmark side is tiny and
    * broadcast; the corpus side is one scan + one (bench, doc)-keyed agg. */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
                          minOverlap: Int = 2): DataFrame = {
    val bench = benchmark.select(col("doc_id").as("bench_id"),
      explode(shingles(col("text"), n)).as("shingle")).distinct()
    val ds = docs
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .distinct()
    ds.join(broadcast(bench), Seq("shingle"))
      .groupBy("bench_id", "doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_leaked_docs"),
        sum("n_overlap").as("total_overlap"))
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥ `minOverlap`
    * distinct n-gram shingles with any benchmark text (the standard
    * training-data hygiene pass before pretraining). Benchmark side is tiny
    * → broadcast; corpus side shuffles once on the shingle aggregate. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 3,
                    minOverlap: Int = 2): DataFrame = {
    val benchShingles = benchmark
      .select(explode(shingles(col("text"), n)).as("shingle")).distinct()
    val docShingles = docs
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .distinct()
    docShingles.join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }
}
