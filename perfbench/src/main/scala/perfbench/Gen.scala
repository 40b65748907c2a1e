package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import searchspark.model.Turn

/** Seeded input generators. Everything here is a pure function of the
  * seed, so the same `--seed` gives the same corpus, query stream and
  * delta batches; the program under test only ever sees the outputs.
  *
  * Corpus: conversations of 2..40 turns (user/assistant alternating,
  * ~10% tool turns), each turn a log-normal number of content tokens
  * drawn Zipf(1.05) over 5,000 stems `k0000..k4999` with -s/-ing/-ed
  * inflections, stopwords, punctuation and digit noise, 12 filler terms
  * present in ~90% of turns (above the 0.85 df prune line), and ~1%
  * blank turns. */
object Gen {

  val VocabSize = 5000
  val Fillers: IndexedSeq[String] = (0 until 12).map(i => f"pad$i%02d")
  val Roles: IndexedSeq[String] = IndexedSeq("assistant", "tool", "user")
  private val Inflections = Array("", "s", "ing", "ed")
  private val Stops = Array("the", "of", "and", "to", "in", "for")
  private val Punct = Array(",", ".", "!", "?")
  private val Tools = Array("bash", "search", "browser", "editor")

  def stem(rank: Int): String = f"k$rank%04d"

  private lazy val zipfCdf: Array[Double] = cdf(VocabSize, 1.05)

  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    val out = w.map { x => acc += x / total; acc }
    out(n - 1) = 1.0
    out
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** SplitMix64 finalizer: independent streams per (seed, index). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x632be59bd9b4e019L + 0x9e3779b97f4a7c15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def text(r: SplittableRandom, extra: Seq[String] = Nil): String = {
    val len = math.min(120, math.max(3, math.round(math.exp(2.7 + 0.7 * r.nextGaussian())).toInt))
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      val u = r.nextDouble()
      val w =
        if (u < 0.06) Stops(r.nextInt(Stops.length))
        else if (u < 0.08) String.valueOf(100 + r.nextInt(900))
        else stem(draw(zipfCdf, r)) + Inflections(r.nextInt(Inflections.length))
      sb.append(if (r.nextDouble() < 0.05) w.capitalize else w)
      if (r.nextDouble() < 0.1) sb.append(Punct(r.nextInt(Punct.length)))
      sb.append(' ')
      i += 1
    }
    Fillers.foreach(f => if (r.nextDouble() < 0.9) sb.append(f).append(' '))
    extra.foreach(e => sb.append(e).append(' '))
    sb.toString.trim
  }

  def convId(stream: String, i: Long): String = f"$stream-$i%06d"

  /** One conversation, a pure function of (seed, stream, index). */
  def conversation(seed: Long, stream: String, i: Long, extra: Seq[String] = Nil): Seq[Turn] = {
    val r = new SplittableRandom(mix(seed ^ stream.hashCode.toLong, i))
    val n = 2 + r.nextInt(39)
    val base = 1700000000000L + i * 3600000L
    (0 until n).map { t =>
      val isTool = r.nextDouble() < 0.1
      val role = if (isTool) "tool" else if (t % 2 == 0) "user" else "assistant"
      val body = if (r.nextDouble() < 0.01) "" else text(r, extra)
      Turn(convId(stream, i), t, role, body, if (isTool) Tools(r.nextInt(Tools.length)) else null,
        new Timestamp(base + t * 60000L + r.nextInt(30000)))
    }
  }

  def corpus(seed: Long, convs: Int): Seq[Turn] =
    (0L until convs.toLong).flatMap(conversation(seed, "c", _))

  // ---------------------------------------------------------------- queries

  final case class Query(text: String, scope: Option[String], offset: Int)

  /** The order in which the stream cycles through query kinds: 25% head
    * stems (large conjunctive candidate sets), 30% mid, 20% tail, 15%
    * with a filler term (pruned), 10% with an unknown term. Fixed, so
    * every seed gets the same mix. */
  val KindCycle: IndexedSeq[String] =
    "hmtfmhumthfmhtmuhmft".map(Map('h' -> "head", 'm' -> "mid", 't' -> "tail", 'f' -> "filler", 'u' -> "unknown"))
  val PerKind = 20

  /** `PerKind` queries of each kind. Entry j has 1 + j % 4 terms (tail
    * queries at most 2), is role-scoped when j % 5 == 2 and asks for page
    * two when j % 10 == 5. Term t of entry j sits at a fixed one of 20
    * log-spaced strata of its kind's stem-rank range, and the seed picks
    * the stem within that stratum: a query's cost follows the df of its
    * terms, so every seed's pool costs nearly the same while its stems
    * differ. */
  def queryPool(seed: Long): Map[String, IndexedSeq[Query]] = {
    val r = new SplittableRandom(mix(seed, -1L))
    def s(lo: Int, hi: Int, j: Int, t: Int) = {
      val u = ((7 * j + 13 * t) % 20 + r.nextDouble()) / 20
      stem((lo * math.pow(hi.toDouble / lo, u)).toInt) + Inflections(r.nextInt(Inflections.length))
    }
    KindCycle.distinct.map { kind =>
      kind -> (0 until PerKind).map { j =>
        val n = 1 + j % 4
        val terms = kind match {
          case "head" => (0 until n).map(s(2, 30, j, _))
          case "mid" => s(2, 30, j, 0) +: (1 until n).map(s(30, 400, j, _))
          case "tail" => (0 until math.min(n, 2)).map(s(400, VocabSize, j, _))
          case "filler" => Fillers(r.nextInt(Fillers.length)) +: (1 until n).map(s(2, 200, j, _))
          case _ => s"zq${r.nextInt(100000)}x" +: (1 until n).map(s(2, 200, j, _))
        }
        Query(terms.mkString(" "), if (j % 5 == 2) Some(Roles(j / 5 % 3)) else None,
          if (j % 10 == 5) 20 else 0)
      }
    }.toMap
  }

  /** The request stream: kinds in [[KindCycle]] order, and within a kind
    * a Zipf(0.5)-popular pick of its queries. */
  def stream(seed: Long, pool: Map[String, IndexedSeq[Query]], n: Int): IndexedSeq[Query] = {
    val r = new SplittableRandom(mix(seed, -2L))
    val c = cdf(PerKind, 0.5)
    (0 until n).map(i => pool(KindCycle(i % KindCycle.size))(draw(c, r)))
  }

  /** The pool walked in an order that does not depend on the seed: kinds
    * in [[KindCycle]] order, positions stepping by 7 (coprime to
    * `PerKind`) and shifting by one each pass. Any prefix has the same
    * term counts, scopes and pages for every seed; only the stems differ. */
  def sweep(pool: Map[String, IndexedSeq[Query]]): IndexedSeq[Query] = {
    val k = KindCycle.size
    (0 until k * PerKind).map(i => pool(KindCycle(i % k))((7 * i + i / k) % PerKind))
  }

  // ----------------------------------------------------------------- deltas

  final case class Delta(turns: Seq[Turn], marker: String,
                         added: Set[(String, Int)], replaced: Set[(String, Int)],
                         retracted: Set[(String, Int)]) {
    def textBytes: Long = turns.map(t => Option(t.text).map(_.getBytes("UTF-8").length).getOrElse(0).toLong).sum
  }

  /** Delta `cycle` over the current turn set: `added` turns of new
    * conversations tagged with the cycle's marker term, `replace`
    * existing turns rewritten with the marker, `retract` existing turns
    * blanked (a retraction). Edits land on recent conversations: the
    * replaced and retracted keys are drawn from the `recent` highest
    * (conv_id, turn_idx) keys, which a cold build numbers last, so an
    * append leaves the older doc-range shards untouched. Touched keys
    * are disjoint. */
  def delta(seed: Long, cycle: Int, current: Map[(String, Int), Turn],
            added: Int, replace: Int, retract: Int, recent: Int): Delta = {
    val r = new SplittableRandom(mix(seed, 1000L + cycle))
    val marker = s"mark${cycle}q"
    val fresh = Iterator.from(0).flatMap(i => conversation(seed, s"d$cycle", i.toLong, Seq(marker)))
      .filter(_.text.nonEmpty).take(added).toSeq
    val keys = current.keys.toIndexedSeq.sorted.takeRight(recent)
    val picked = scala.collection.mutable.LinkedHashSet.empty[(String, Int)]
    while (picked.size < replace + retract) picked += keys(r.nextInt(keys.size))
    val (rep, ret) = picked.toIndexedSeq.splitAt(replace)
    val replacedTurns = rep.map { k =>
      current(k).copy(text = text(r, Seq(marker)), ts = new Timestamp(1800000000000L + cycle))
    }
    val retractedTurns = ret.map(k => current(k).copy(text = ""))
    Delta(fresh ++ replacedTurns ++ retractedTurns, marker,
      fresh.map(t => (t.conv_id, t.turn_idx)).toSet, rep.toSet, ret.toSet)
  }
}
