package searchspark.query

import searchspark.analyze.Analyzer

/** Snippet generation — port of the reference's C10
  * (`SearchingServiceImpl.getSnippet`,
  * /root/reference/src/main/java/searchengine/services/SearchingServiceImpl.java:135-162):
  * split the document text on spaces; per word, normalize (lowercase,
  * strip non-alphabet chars) and lemmatize; a word whose lemma is in the
  * query-term set is a match and is wrapped in `<b>`; the snippet window
  * runs from `max(0, first-14)` to `first+15` words; scanning stops 15
  * words after the first match (later matches inside the window still get
  * highlighted, matches beyond it are never seen — same as the
  * reference's loop break).
  *
  * Documented deviation (SURVEY.md §7.5.6): when no word matches, the
  * reference NPEs (its `k` stays null, SearchingServiceImpl.java:152);
  * we return an empty snippet instead.
  *
  * Pure function of (text, terms): the engine calls it on the
  * executors, over each partition's ≤(offset+limit) top-k docs only
  * (Wand.partitionTop); the reference likewise snippets only the result
  * page.
  */
object Snippets {

  private val Before = 14
  private val After = 15

  def snippet(text: String, queryTerms: Set[String]): String = {
    if (text == null || text.isEmpty || queryTerms.isEmpty) return ""
    val words = text.split(" ")
    var first = -1
    val matched = new Array[Boolean](words.length)
    var i = 0
    var done = false
    while (i < words.length && !done) {
      val norm = Analyzer.tokenize(words(i))
      val isMatch = norm.exists(t =>
        Analyzer.keepToken(t) && Analyzer.notStopword(t) &&
          queryTerms.contains(Analyzer.lemma(t)))
      if (isMatch) {
        matched(i) = true
        if (first == -1) first = i
      }
      if (first != -1 && i >= first + After) done = true
      i += 1
    }
    if (first == -1) return "" // deviation: reference NPEs here
    val start = math.max(0, first - Before)
    val end = math.min(words.length, first + After)
    (start until end).map { j =>
      if (matched(j)) s"<b>${words(j)}</b>" else words(j)
    }.mkString(" ")
  }
}
