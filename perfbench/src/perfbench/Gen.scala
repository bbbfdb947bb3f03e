package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator for every workload. Everything is a pure function
  * of `(seed, sizes)`: no wall clock, no hash-order iteration, so the same
  * seed gives byte-identical inputs in any JVM ([[Inputs.digest]] proves it
  * per run).
  *
  * The ontology imitates a BioPortal slice: concepts spread over several
  * ontologies, 1–3-word labels drawn from a Zipf vocabulary, a few synonyms,
  * an is-a DAG per ontology with a share of multi-parent nodes, and
  * cross-ontology concepts sharing a CUI (the CUI mapping kind). Pages are
  * abstract-length runs of Zipf-drawn words into which concept labels are
  * spliced, so both single-word and multi-word terms occur.
  */
object Gen {

  final case class Concept(iri: String, ont: String, pref: String,
                           synonyms: Vector[String], tui: String, cui: String)
  final case class Doc(id: Long, text: String)

  /** Ontologies the concepts spread over, and words in the Zipf-ranked
    * vocabulary labels and pages draw from. */
  private val Onts = 8
  private val VocabSize = 12000
  /** Shares of concepts with a second parent, and with a cross-ontology
    * twin that shares their CUI. */
  private val MultiParent = 0.03
  private val CuiShare = 0.2
  /** Mean words per page, the Zipf exponent of page words, and the chance
    * that a page token is a spliced concept label. */
  private val PageWords = 250
  private val WordZipf = 1.05
  private val LabelShare = 0.06
  /** R-MAT links drawn per page. */
  private val EdgeFactor = 8

  final case class Ontology(concepts: Vector[Concept],
                            edges: Vector[(String, String)],
                            mappings: Vector[(String, String)],
                            vocab: Vector[String])

  /** A dictionary-only release: some concepts lose their synonyms, a few new
    * concepts arrive with mid-frequency labels. Hierarchy, mappings and
    * existing CUIs are unchanged, which is what makes an incremental refresh
    * sound. */
  final case class Release(concepts: Vector[Concept], droppedSynonyms: Int,
                           added: Int)

  final case class Graph(nodes: Int, edges: Vector[(String, String, Long)],
                         facts: Vector[(String, String, String)])

  /** Mixed into a run's seed for its warm-up input. */
  val WarmSeed = 0x5EEDL

  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Inverse-CDF Zipf sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
      val a = w.scanLeft(0.0)(_ + _).tail
      a.map(_ / a.last)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val LabelSkip = 200
  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  /** Distinct lowercase pseudo-words of 2–3 consonant-vowel syllables. */
  def vocabulary(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, 1)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + r.nextInt(2)
      val sb = new StringBuilder
      for (_ <- 0 until syl)
        sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
          .append(Vowels.charAt(r.nextInt(Vowels.length)))
      seen += sb.toString
    }
    seen.toVector
  }

  /** A label of 1–3 words drawn from below the `LabelSkip` most frequent
    * ranks (function words and generic prose), as curated labels are;
    * single-word labels come from the rarer half of the vocabulary. */
  private def label(r: SplittableRandom, vocab: Vector[String], z: Zipf): String = {
    val n = r.nextDouble() match {
      case x if x < 0.25 => 1
      case x if x < 0.75 => 2
      case _ => 3
    }
    if (n == 1) vocab(vocab.size / 2 + r.nextInt(vocab.size / 2))
    else Iterator.continually(vocab(LabelSkip + z.draw(r))).take(n).mkString(" ")
  }

  def ontology(seed: Long, concepts: Int): Ontology = {
    val vocab = vocabulary(seed, VocabSize)
    val r = rng(seed, 2)
    val labelZipf = new Zipf(VocabSize - LabelSkip, 0.5)
    val perOnt = Array.fill(Onts)(mutable.ArrayBuffer.empty[Int])
    val cs = mutable.ArrayBuffer.empty[Concept]
    for (i <- 0 until concepts) {
      val o = r.nextInt(Onts)
      val ont = f"ONT${o + 1}%d"
      perOnt(o) += i
      val nSyn = r.nextDouble() match {
        case x if x < 0.72 => 0
        case x if x < 0.92 => 1
        case x if x < 0.98 => 2
        case _ => 3
      }
      // a cross-ontology twin: same CUI and preferred label as an earlier
      // concept of another ontology (what LOOM and CUI mappings pair up)
      val twin =
        if (i > 0 && r.nextDouble() < CuiShare) {
          val j = r.nextInt(i)
          if (cs(j).ont != ont) Some(cs(j)) else None
        } else None
      val pref = twin.map(_.pref).getOrElse(label(r, vocab, labelZipf))
      val syns = Vector.fill(nSyn)(label(r, vocab, labelZipf))
        .distinct.filter(_ != pref)
      cs += Concept(f"http://bench.onto/$ont#C$i%06d", ont, pref, syns,
        f"T${1 + r.nextInt(20)}%03d", twin.map(_.cui).getOrElse(f"C$i%07d"))
    }
    // is-a DAG inside each ontology: every non-root concept hangs under an
    // earlier one (depth grows ~ log n), a few get a second parent
    val edges = mutable.ArrayBuffer.empty[(String, String)]
    perOnt.foreach { members =>
      for (k <- 1 until members.size) {
        val child = cs(members(k)).iri
        val p1 = members(r.nextInt(k))
        edges += ((child, cs(p1).iri))
        if (k > 1 && r.nextDouble() < MultiParent) {
          val p2 = members(r.nextInt(k))
          if (p2 != p1) edges += ((child, cs(p2).iri))
        }
      }
    }
    val byCui = cs.groupBy(_.cui).toVector.sortBy(_._1)
    val mappings = for {
      (_, group) <- byCui if group.size > 1
      a <- group; b <- group if a.ont != b.ont
    } yield (a.iri, b.iri)
    Ontology(cs.toVector, edges.toVector, mappings, vocab)
  }

  def corpus(seed: Long, onto: Ontology, docs: Int): Vector[Doc] = {
    val r = rng(seed, 3)
    val wordZipf = new Zipf(onto.vocab.size, WordZipf)
    val conceptZipf = new Zipf(onto.concepts.size, 0.5)
    // hot concepts are a seeded permutation, not the lowest indices
    val perm = {
      val a = Array.range(0, onto.concepts.size)
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    Vector.tabulate(docs) { d =>
      val n = PageWords / 2 + r.nextInt(PageWords + 1)
      val sb = new java.lang.StringBuilder(n * 7)
      for (t <- 0 until n) {
        if (t > 0) sb.append(' ')
        if (r.nextDouble() < LabelShare) {
          val c = onto.concepts(perm(conceptZipf.draw(r)))
          sb.append(if (c.synonyms.isEmpty || r.nextDouble() < 0.7) c.pref
                    else c.synonyms(r.nextInt(c.synonyms.size)))
        } else sb.append(onto.vocab(wordZipf.draw(r)))
      }
      Doc(d.toLong, sb.toString)
    }
  }

  /** About 1 % of concepts lose their synonyms; 0.5 % new concepts arrive
    * with a single mid-frequency word as label (fresh CUIs, no edges, so no
    * mapping or hierarchy change). */
  def release(seed: Long, onto: Ontology): Release = {
    val r = rng(seed, 4)
    var dropped = 0
    val kept = onto.concepts.map { c =>
      if (c.synonyms.nonEmpty && r.nextDouble() < 0.035) {
        dropped += 1; c.copy(synonyms = Vector.empty)
      } else c
    }
    val nAdd = math.max(1, onto.concepts.size / 200)
    // a narrow mid-frequency band, so that the pages the release touches
    // vary little from seed to seed
    val (lo, hi) = (onto.vocab.size / 3, onto.vocab.size / 2)
    val added = Vector.tabulate(nAdd) { k =>
      val ont = f"ONT${1 + r.nextInt(8)}%d"
      Concept(f"http://bench.onto/$ont#N$k%06d", ont,
        onto.vocab(lo + r.nextInt(hi - lo)), Vector.empty,
        f"T${1 + r.nextInt(20)}%03d", f"C${9000000 + k}%07d")
    }
    Release(kept ++ added, dropped, nAdd)
  }

  /** R-MAT page graph (a=0.57, b=c=0.19, d=0.05) with duplicate links folded
    * into `n_links` and self-links dropped, plus `(url, hasAnnotation,
    * concept)` facts over the same pages with Zipf-hot concepts. */
  def graph(seed: Long, onto: Ontology, scale: Int, nFacts: Int): Graph = {
    val r = rng(seed, 5)
    val n = 1 << scale
    def url(i: Int) = s"doc://$i"
    val links = mutable.HashMap.empty[Long, Long]
    for (_ <- 0L until n.toLong * EdgeFactor) {
      var u = 0; var v = 0
      for (_ <- 0 until scale) {
        val x = r.nextDouble()
        u <<= 1; v <<= 1
        if (x < 0.57) ()
        else if (x < 0.76) v |= 1
        else if (x < 0.95) u |= 1
        else { u |= 1; v |= 1 }
      }
      if (u != v) {
        val k = u.toLong * n + v
        links.update(k, links.getOrElse(k, 0L) + 1)
      }
    }
    val edges = links.toVector.sortBy(_._1).map { case (k, w) =>
      (url((k / n).toInt), url((k % n).toInt), w)
    }
    val conceptZipf = new Zipf(onto.concepts.size, 0.9)
    val facts = mutable.LinkedHashSet.empty[(String, String, String)]
    while (facts.size < nFacts)
      facts += ((url(r.nextInt(n)), "hasAnnotation",
        onto.concepts(conceptZipf.draw(r)).iri))
    Graph(n, edges, facts.toVector)
  }

  /** SHA-256 over a canonical rendering of every generated row, in order. */
  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  def rows(c: Concept): String =
    s"${c.iri}\t${c.ont}\t${c.pref}\t${c.synonyms.mkString("|")}\t${c.tui}\t${c.cui}"
}
