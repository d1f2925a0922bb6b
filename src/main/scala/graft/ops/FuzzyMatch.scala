package graft.ops

/** T3 — fuzzy column-name matcher
  * (/root/reference/ingestor_precinct.py:125-132:
  * `fuzzywuzzy.process.extractOne(schemaCol, df.columns)`, accept
  * threshold >60, special fallback `candidate` → retry with `choice`).
  *
  * Driver-side metadata work (N schema cols × M incoming cols, both
  * tiny) — deliberately NOT a distributed op (SURVEY.md §2a T3).
  *
  * Scorer fidelity: `process.extractOne`'s default scorer is WRatio,
  * which is NOT plain edit distance — it takes the max of the
  * Levenshtein ratio and scaled token-sort / token-set / partial
  * ratios, so word-reordered ("precinct name" vs "name_precinct")
  * and substring-contained ("candidate" vs "candidate_name_last")
  * headers score high where raw Levenshtein fails the 60 threshold.
  * [[wratio]] mirrors that blend (same 0.95 / 0.9 / 0.6 scales);
  * spec-pinned on NCSBE-shaped header names in FuzzyMatchSpec.
  * Same contract as the reference: 0–100 score, best match wins,
  * threshold gate.
  */
object FuzzyMatch {

  val Threshold = 60

  private def norm(s: String): String =
    s.toLowerCase.replaceAll("[_\\-\\s]+", " ").trim

  private[graft] def levenshtein(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    for (j <- 0 to b.length) prev(j) = j
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  /** Levenshtein ratio on ALREADY-normalized strings (0–100). */
  private def rawRatio(x: String, y: String): Int = {
    val m = math.max(x.length, y.length)
    if (m == 0) 100 else math.round(100.0 * (1.0 - levenshtein(x, y).toDouble / m)).toInt
  }

  /** 0–100 similarity, fuzzywuzzy-style `ratio` (plain edit distance
    * over case-folded, separator-normalized names). */
  def ratio(a: String, b: String): Int = rawRatio(norm(a), norm(b))

  /** Best edit-distance alignment of the shorter string against any
    * same-length window of the longer — fuzzywuzzy `partial_ratio`
    * (header names are ≤ a few tokens; the O(n·m²) window sweep is
    * driver-side metadata work on tiny strings). */
  private[graft] def partialRatio(x: String, y: String): Int = {
    val (s, l) = if (x.length <= y.length) (x, y) else (y, x)
    if (s.isEmpty) return 100
    (0 to (l.length - s.length)).map(i => rawRatio(s, l.substring(i, i + s.length))).max
  }

  private def tokens(s: String): Array[String] =
    norm(s).split(" ").filter(_.nonEmpty)

  /** fuzzywuzzy `token_sort_ratio`: compare with tokens sorted, so
    * word order never costs edits. */
  private[graft] def tokenSortRatio(x: String, y: String): Int =
    rawRatio(tokens(x).sorted.mkString(" "), tokens(y).sorted.mkString(" "))

  /** fuzzywuzzy `token_set_ratio`: compare sorted-intersection against
    * intersection+rest on each side — a header fully contained in the
    * other's token set scores 100. */
  private[graft] def tokenSetRatio(x: String, y: String): Int = {
    val ta = tokens(x).toSet
    val tb = tokens(y).toSet
    val inter = (ta & tb).toSeq.sorted.mkString(" ")
    val s1 = (inter + " " + (ta -- tb).toSeq.sorted.mkString(" ")).trim
    val s2 = (inter + " " + (tb -- ta).toSeq.sorted.mkString(" ")).trim
    Seq(rawRatio(inter, s1), rawRatio(inter, s2), rawRatio(s1, s2)).max
  }

  /** fuzzywuzzy `WRatio` — the scorer `process.extractOne` actually
    * uses: max of the plain ratio and scaled token-sort / token-set
    * variants; when lengths diverge by ≥1.5× the partial (windowed)
    * variants are used instead, scaled by 0.9 (0.6 past 8×). */
  def wratio(a: String, b: String): Int = {
    val (x, y) = (norm(a), norm(b))
    if (x.isEmpty || y.isEmpty) return if (x == y) 100 else 0
    val base = rawRatio(x, y).toDouble
    val lenRatio = math.max(x.length, y.length).toDouble / math.min(x.length, y.length)
    val unbase = 0.95
    if (lenRatio >= 1.5) {
      // the long-vs-short branch uses the PARTIAL token variants
      // (partial_token_sort_ratio / partial_token_set_ratio): windowed
      // alignment over the sorted-token / set-combined strings. The
      // set variant degenerates to 100 whenever the token intersection
      // is non-empty (the intersection string is a prefix window of
      // both combined strings) — fuzzywuzzy behaves the same way.
      val pscale = if (lenRatio < 8) 0.90 else 0.60
      val partial = partialRatio(x, y) * pscale
      val ptsor = partialRatio(tokens(x).sorted.mkString(" "),
        tokens(y).sorted.mkString(" ")) * unbase * pscale
      // partial_token_set_ratio via fuzzywuzzy's t0/t1/t2 construction:
      // t0 = sorted intersection, t1/t2 = t0 + sorted remainder of each
      // side; score = max pairwise partial_ratio, where fuzzywuzzy's
      // @check_empty_string decorator scores any pair with an EMPTY
      // side as 0 (without that guard, difflib's empty-vs-empty
      // ratio=1.0 would make every disjoint pair score 100). Non-empty
      // intersection degenerates to 100 (t0 is a prefix window of t1
      // and t2); disjoint sets reduce to partialRatio(t1, t2) over the
      // two sorted remainder strings.
      val ptser = {
        def pr(a: String, b: String): Int =
          if (a.isEmpty || b.isEmpty) 0 else partialRatio(a, b)
        val ta = tokens(x).toSet
        val tb = tokens(y).toSet
        val t0 = (ta & tb).toSeq.sorted.mkString(" ")
        val t1 = (t0 + " " + (ta -- tb).toSeq.sorted.mkString(" ")).trim
        val t2 = (t0 + " " + (tb -- ta).toSeq.sorted.mkString(" ")).trim
        Seq(pr(t0, t1), pr(t0, t2), pr(t1, t2)).max * unbase * pscale
      }
      // int(round(...)) like fuzzywuzzy — truncation would report
      // half-point scores one lower and flip threshold-60 decisions
      math.round(math.max(math.max(base, partial), math.max(ptsor, ptser))).toInt
    } else {
      val tsor = tokenSortRatio(x, y) * unbase
      val tser = tokenSetRatio(x, y) * unbase
      math.round(math.max(base, math.max(tsor, tser))).toInt
    }
  }

  /** Best (column, score) for a target name, None if input empty. */
  def extractOne(target: String, columns: Seq[String]): Option[(String, Int)] =
    columns.map(c => (c, wratio(target, c))).sortBy(-_._2).headOption

  /** Reference mapping pass: for each grand-schema column, best incoming
    * column if score > 60; `candidate` falls back to matching `choice`
    * (:127-128). The reference keys its mapping by source column
    * (`colnames`), so one source column feeds at most one grand-schema
    * column: the one it scores highest against, the first in schema
    * order on a tie. (Without that, a batch with `Election Date` and
    * no `Election Day` would also cast its dates into the vote count
    * `election_day`.) Returns canonicalName → sourceColumn. */
  def mapColumns(schemaCols: Seq[String], incoming: Seq[String]): Map[String, String] = {
    val best = schemaCols.flatMap { sc =>
      val m = extractOne(sc, incoming) match {
        case Some((_, score)) if sc == "candidate" && score < Threshold =>
          extractOne("choice", incoming)
        case other => other
      }
      m.collect { case (c, score) if score > Threshold => (sc, c, score) }
    }
    // maxBy keeps the first of equal maxima, i.e. schema order on a tie
    best.groupBy(_._2).values.map(_.maxBy(_._3)).map(t => t._1 -> t._2).toMap
  }
}
