package graftbench

import scala.collection.mutable

/** One generated document with its ground truth: `group` is the planted
  * near-dup group (-1 for none) and `kind` is one of `unique`, `dup`,
  * `near_miss` (a rewrite of another document at Jaccard about 0.5) or
  * `junk` (too short, too repetitive, or without English stopwords). */
final case class Doc(id: Long, text: String, kind: String, group: Long)

/** Seeded document generator over a Zipf vocabulary. Near-dup copies
  * differ from their group's first document by reordering, repeats and
  * one replaced token, so their token-set Jaccard is above 0.9; near
  * misses replace about 40% of the tokens, so theirs is below 0.6. */
final class Corpus(seed: Long, vocabSize: Int = 20000, zipfS: Double = 1.05) {
  val stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "it")
  private val rng = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
  }
  private var fresh = 0L
  private def rare(): String = { fresh += 1; "r" + java.lang.Long.toString(fresh, 36) + "x" + (seed & 0xffff) }

  private def baseTokens(): Array[String] = {
    val n = 45 + rng.nextInt(40)
    Array.fill(n)(if (rng.nextInt(8) == 0) stopwords(rng.nextInt(stopwords.length)) else word())
  }

  private def variant(base: Array[String]): Array[String] = {
    val t = base.clone()
    // One token replaced by a token no other document has.
    val content = t.indices.filterNot(i => stopwords.contains(t(i)))
    t(content(rng.nextInt(content.size))) = rare()
    // Local reordering and a few repeats leave the token set unchanged.
    for (_ <- 0 until 4) {
      val i = rng.nextInt(t.length - 1); val x = t(i); t(i) = t(i + 1); t(i + 1) = x
    }
    t ++ Array.fill(rng.nextInt(3))(t(rng.nextInt(t.length)))
  }

  private def nearMiss(base: Array[String]): Array[String] =
    base.map(w => if (!stopwords.contains(w) && rng.nextInt(10) < 4) rare() else w)

  private def junk(): Array[String] = rng.nextInt(3) match {
    case 0 => Array.fill(10 + rng.nextInt(15))(word())                        // too short
    case 1 => val ws = Array.fill(4)(word()); Array.fill(40)(ws(rng.nextInt(4))) // too repetitive
    case _ => Array.fill(50 + rng.nextInt(20))(word())                        // no stopwords
  }

  /** `n` documents with ids from `firstId`. Each draw plants, with
    * probability `dupP`, a near-dup group of 2 to 4 documents (so about
    * 30% of documents are in groups at the default), with probability
    * `junkP` one junk document and with `missP` a unique document plus its
    * near miss; otherwise one unique document. Returned in a seeded order. */
  def docs(n: Int, firstId: Long, dupP: Double = 0.13, junkP: Double = 0.08,
           missP: Double = 0.04): IndexedSeq[Doc] = {
    val out = mutable.ArrayBuffer.empty[(Array[String], String, Long)]
    var g = firstId
    while (out.size < n) {
      val r = rng.nextDouble()
      if (r < dupP) {
        val base = baseTokens()
        val size = 2 + rng.nextInt(3)
        out += ((base, "dup", g))
        for (_ <- 1 until size) out += ((variant(base), "dup", g))
        g += 1
      } else if (r < dupP + junkP) out += ((junk(), "junk", -1L))
      else if (r < dupP + junkP + missP) {
        val base = baseTokens()
        out += ((base, "unique", -1L))
        out += ((nearMiss(base), "near_miss", -1L))
      } else out += ((baseTokens(), "unique", -1L))
    }
    val order = out.take(n).toArray
    for (i <- order.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    order.toIndexedSeq.zipWithIndex.map { case ((toks, kind, grp), i) =>
      Doc(firstId + i, toks.mkString(" "), kind, grp)
    }
  }
}

object Corpus {
  private val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")

  /** `Pipelines.curate`'s quality and language gates, restated in plain
    * Scala: at least 30 tokens, 15 distinct, and a stopword ratio of at
    * least 0.04. */
  def passesGates(text: String): Boolean = {
    val t = text.split(" ", -1)
    t.length >= 30 && t.distinct.length >= 15 && t.count(stop).toDouble / t.length >= 0.04
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** Union-find over `n` items; returns each item's root. */
  def components(n: Int, edges: Iterable[(Int, Int)]): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (p(r) != r) { p(r) = p(p(r)); r = p(r) }; r }
    edges.foreach { case (a, b) => val ra = find(a); val rb = find(b); if (ra != rb) p(ra) = rb }
    Array.tabulate(n)(find)
  }

  /** The ids `curate` must keep from `docs`: docs passing the gates,
    * clustered over the pairs its LSH stage found (`found`, as (lower id,
    * higher id)) that have exact token-set Jaccard >= `threshold`, one per
    * cluster — the one with the most distinct tokens, then the lowest id.
    * Also returns the found pairs below `threshold` (the stage's verify
    * must have dropped them, so any is an error) and the exact pairs at or
    * above it that LSH did not find: the stage's banding is sized for 0.9
    * recall at the threshold, not for 1, so a miss is within its contract
    * and is reported, not failed. */
  def expectedKept(docs: Seq[Doc], found: Set[(Long, Long)], threshold: Double = 0.8)
      : (Set[Long], Set[(Long, Long)], Set[(Long, Long)]) = {
    val live = docs.filter(d => passesGates(d.text)).toIndexedSeq
    val sets = live.map(_.text.split(" ", -1).toSet)
    val exact = (for {
      i <- live.indices; j <- (i + 1) until live.size
      if jaccard(sets(i), sets(j)) >= threshold
    } yield (i, j)).map { case (i, j) => (i, j) -> ((live(i).id min live(j).id, live(i).id max live(j).id)) }
    val root = components(live.size, exact.collect { case (e, ids) if found(ids) => e })
    val kept = live.indices.groupBy(root(_)).values.map { members =>
      live(members.minBy(i => (-sets(i).size, live(i).id))).id
    }.toSet
    val exactIds = exact.map(_._2).toSet
    (kept, found -- exactIds, exactIds -- found)
  }
}
