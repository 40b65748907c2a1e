package perfbench

import searchspark.model.SearchResult

/** Correctness comparisons. Each returns None on a match, or the reason
  * it failed. Keys are (conv_id, turn_idx); scores compare as exact
  * Doubles. */
object Gate {

  /** A deliberately wrong copy of an answer: the top score off by one ulp,
    * or the total off by one when there are no hits. The benchmark's own
    * test runs the workloads with `--inject 1`, which passes every gate
    * answer through this, and expects the gate to fail. */
  def corrupt(r: SearchResult): SearchResult = r.hits match {
    case h +: rest => r.copy(hits = h.copy(score = math.nextUp(h.score)) +: rest)
    case _ => r.copy(count = r.count + 1)
  }

  private def head(r: SearchResult) =
    s"ok=${r.ok} count=${r.count} hits=${r.hits.take(3).map(h => (h.conv_id, h.turn_idx, h.score)).mkString(",")}"

  /** Same outcome, total, and page: keys and scores in order. */
  def exact(got: SearchResult, want: SearchResult): Option[String] =
    if (got.ok != want.ok || got.count != want.count ||
        got.hits.map(h => (h.conv_id, h.turn_idx, h.score)) !=
          want.hits.map(h => (h.conv_id, h.turn_idx, h.score)))
      Some(s"got ${head(got)} want ${head(want)}")
    else None

  /** As [[exact]], but documents of equal score may come in any order,
    * and a tied group cut by the page edge may be any subset of the
    * oracle's group. `wantAll` is the oracle's ranking from the top
    * (offset 0) through at least the whole score group of the page's
    * last hit; the page is [offset, offset + limit). Needed when docIds
    * (the tie-break) differ from a cold build's, as after an incremental
    * append. */
  def tieTolerant(got: SearchResult, wantAll: SearchResult, offset: Int, limit: Int): Option[String] = {
    val page = wantAll.hits.slice(offset, offset + limit)
    if (got.ok != wantAll.ok || got.count != wantAll.count || got.hits.map(_.score) != page.map(_.score))
      return Some(s"got ${head(got)} want ${head(wantAll.copy(hits = page))}")
    val keys = got.hits.map(h => (h.conv_id, h.turn_idx))
    if (keys.distinct.size != keys.size) return Some("duplicate keys on one page")
    val pageEnd = offset + page.size
    got.hits.groupBy(_.score).collectFirst {
      case (s, hs) if {
        val idx = wantAll.hits.indices.filter(i => wantAll.hits(i).score == s)
        val want = idx.map(i => (wantAll.hits(i).conv_id, wantAll.hits(i).turn_idx)).toSet
        val g = hs.map(h => (h.conv_id, h.turn_idx)).toSet
        val inside = idx.head >= offset && idx.last < pageEnd
        !(g.subsetOf(want) && (!inside || g == want))
      } => s"score group $s differs from the oracle's"
    }
  }
}
