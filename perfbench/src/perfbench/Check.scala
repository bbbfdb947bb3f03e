package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Output checks, independent of the program's code paths: a scalar
  * re-derivation of annotation triples (word n-gram dictionary lookup in
  * place of the automaton, BFS over the is-a edges in place of the
  * iterative closure join, a plain map for mappings) and driver-side graph
  * algorithms for the KG operators. Nothing here is timed.
  */
object Check {

  /** (subj, pred, obj, match_type, distance, score) */
  type T = (String, String, String, String, Int, Double)

  /** Reference annotator over one ontology release, with the program's
    * default options: whole words, every overlap, hierarchy to `maxLevel`,
    * mappings, no score threshold. Labels are single-space-separated
    * lowercase words and page text is words joined by single spaces, so a
    * whole-word dictionary hit is exactly a run of 1–3 page words. */
  final class Annotations(concepts: Vector[Gen.Concept],
                          edges: Vector[(String, String)],
                          mappings: Vector[(String, String)],
                          maxLevel: Int = 5, minTermSize: Int = 3) {
    private val entries: Map[String, Vector[(String, Boolean)]] =
      concepts.flatMap { c =>
        ((c.pref, true) +: c.synonyms.map(_ -> false)).map { case (l, p) =>
          (l.toUpperCase(java.util.Locale.ROOT), (c.iri, p))
        }
      }.filter(_._1.length >= minTermSize).distinct
        .groupBy(_._1).map { case (t, es) => t -> es.map(_._2) }
    private val maxWords = entries.keysIterator.map(_.count(_ == ' ') + 1).max
    private val parents = edges.groupBy(_._1).map { case (c, es) => c -> es.map(_._2) }
    private val mapped = mappings.groupBy(_._1).map { case (c, ms) => c -> ms.map(_._2) }
    private val ancestorCache = mutable.HashMap.empty[String, Map[String, Int]]

    private def ancestors(c: String): Map[String, Int] =
      ancestorCache.getOrElseUpdate(c, {
        val dist = mutable.LinkedHashMap.empty[String, Int]
        var frontier = Vector(c)
        var d = 0
        while (frontier.nonEmpty && d < maxLevel) {
          d += 1
          frontier = frontier.flatMap(parents.getOrElse(_, Vector.empty)).distinct
            .filter(p => !dist.contains(p) && p != c)
          frontier.foreach(dist(_) = d)
        }
        dist.toMap
      })

    /** Normalized dictionary terms. */
    def terms: Iterable[String] = entries.keys

    /** Dictionary rows: (term, class, preferred). */
    def dictRows: Set[(String, String, Boolean)] =
      entries.iterator.flatMap { case (t, es) => es.map(e => (t, e._1, e._2)) }.toSet

    /** Every whole-word dictionary hit: (term, class, preferred). */
    def hits(text: String): Iterator[(String, String, Boolean)] = {
      val words = text.toUpperCase(java.util.Locale.ROOT).split(' ')
      for {
        i <- words.indices.iterator
        n <- (1 to maxWords).iterator if i + n <= words.length
        term = words.slice(i, i + n).mkString(" ")
        (iri, p) <- entries.getOrElse(term, Vector.empty).iterator
      } yield (term, iri, p)
    }

    /** Rows of the is-a closure within `maxLevel`. */
    def closureRows: Int = concepts.iterator.map(c => ancestors(c.iri).size).sum

    def triples(url: String, text: String): Set[T] = {
      val score = mutable.HashMap.empty[String, Double]
      val pref = mutable.HashMap.empty[String, Boolean]
      hits(text).foreach { case (_, iri, p) =>
        score(iri) = score.getOrElse(iri, 0.0) + (if (p) 10.0 else 8.0)
        pref(iri) = pref.getOrElse(iri, false) || p
      }
      val out = mutable.Set.empty[T]
      val hier = mutable.HashMap.empty[String, Int]
      score.foreach { case (c, s) =>
        out += ((url, "hasAnnotation", c, if (pref(c)) "PREF" else "SYN", 0, s))
        ancestors(c).foreach { case (a, d) =>
          hier(a) = math.min(hier.getOrElse(a, Int.MaxValue), d)
        }
        mapped.getOrElse(c, Vector.empty).foreach { m =>
          out += ((url, "hasMappedAnnotation", m, "MAP", 1, 5.0))
        }
      }
      hier.foreach { case (a, d) =>
        out += ((url, "hasExpandedAnnotation", a, "HIER", d, 7.0 / math.max(d, 1)))
      }
      out.toSet
    }
  }

  /** Differences between the program's triples for the sampled pages and
    * the reference's; empty when they agree. */
  def sampleTriples(triples: DataFrame, ref: Annotations,
                    sample: Vector[Gen.Doc], version: String): Vector[String] = {
    val urls = sample.map(d => s"doc://${d.id}")
    val got = triples.filter(col("subj").isin(urls: _*))
      .select("subj", "pred", "obj", "match_type", "distance", "score",
        "dict_version")
      .collect()
    val badVersion = got.count(_.getString(6) != version)
    val actual = got.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getInt(4), r.getDouble(5)): T).toSet
    val expected = sample.flatMap(d => ref.triples(s"doc://${d.id}", d.text)).toSet
    val missing = expected -- actual
    val extra = actual -- expected
    Vector(
      if (got.length != actual.size) Some(s"${got.length - actual.size} duplicate triples") else None,
      if (badVersion > 0) Some(s"$badVersion triples not stamped $version") else None,
      if (missing.nonEmpty) Some(s"${missing.size} of ${expected.size} expected triples missing, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} unexpected triples, e.g. ${extra.head}") else None
    ).flatten
  }

  /** Row count plus an order-independent 64-bit digest of every column.
    * Doubles enter rounded to 4 places: the graph operators' float sums
    * depend on shuffle order in their last bits. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == DoubleType) round(col(f.name), 4) else col(f.name)
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").bitwiseAND(0xFFFFFFFFL)))
      .head()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$x%016x$s%x")
  }

  // ---- graph operators --------------------------------------------------

  /** Component label per node = the smallest node id in its component. */
  def components(edges: Vector[(String, String, Long)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b, _) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** k-core number per node by repeated minimum-degree peeling
    * (Batagelj–Zaversnik) over the undirected simple graph. */
  def coreness(edges: Vector[(String, String, Long)]): Map[String, Int] = {
    val adj = mutable.HashMap.empty[String, mutable.Set[String]]
    edges.foreach { case (a, b, _) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    val deg = mutable.HashMap.from(adj.view.mapValues(_.size))
    val byDeg = mutable.TreeSet.empty[(Int, String)] ++ deg.iterator.map(_.swap)
    val core = mutable.HashMap.empty[String, Int]
    var k = 0
    while (byDeg.nonEmpty) {
      val (d, v) = byDeg.head
      byDeg -= ((d, v))
      k = math.max(k, d)
      core(v) = k
      adj(v).foreach { u =>
        if (!core.contains(u)) {
          byDeg -= ((deg(u), u)); deg(u) -= 1; byDeg += ((deg(u), u))
        }
      }
    }
    core.toMap
  }

  def graphRelease(edges: Vector[(String, String, Long)], comps: Array[Row],
                   ranks: Array[Row], cores: Array[Row],
                   transe: Array[Row]): Vector[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val expComp = components(edges)
    val gotComp = comps.map(r => r.getString(0) -> r.getString(1)).toMap
    if (gotComp != expComp)
      errs += s"components: ${gotComp.size} labelled nodes, " +
        s"${gotComp.values.toSet.size} components; union-find: ${expComp.size} " +
        s"nodes, ${expComp.values.toSet.size} components"
    val pr = ranks.map(_.getDouble(1))
    val mass = pr.sum
    if (pr.length != expComp.size || pr.exists(x => x.isNaN || x.isInfinite) ||
        math.abs(mass - 1.0) > pr.length * 5e-7 + 1e-6)
      errs += s"pagerank: ${pr.length} ranks for ${expComp.size} pages, mass $mass"
    val gotCore = cores.map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val expCore = coreness(edges)
    if (gotCore != expCore) {
      val diff = expCore.filter { case (n, c) => !gotCore.get(n).contains(c) }
      errs += s"coreness: ${diff.size} of ${expCore.size} nodes differ from peeling, " +
        diff.take(3).map { case (n, c) => s"$n: $c vs ${gotCore.get(n)}" }.mkString("; ")
    }
    transe.foreach { r =>
      val (before, after) = (r.getAs[Double]("loss_before"), r.getAs[Double]("loss_after"))
      if (after.isNaN || after.isInfinite || !(after < before))
        errs += s"transe ${r.getAs[String]("pred")}: loss $before -> $after"
    }
    if (transe.isEmpty) errs += "transe: no rows"
    errs.toVector
  }
}
