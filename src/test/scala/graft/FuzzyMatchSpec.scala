package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.FuzzyMatch

/** T3 — threshold-60 fuzzy mapping + candidate→choice fallback
  * (/root/reference/ingestor_precinct.py:125-132). */
class FuzzyMatchSpec extends AnyFunSuite {

  test("exact and near matches score high") {
    assert(FuzzyMatch.ratio("county", "County") === 100)
    assert(FuzzyMatch.ratio("election_date", "Election Date") === 100)
    assert(FuzzyMatch.ratio("total_votes", "Total Votes") === 100)
    assert(FuzzyMatch.ratio("contest_name", "Contest Name") === 100)
  }

  test("unrelated names score below threshold") {
    assert(FuzzyMatch.ratio("candidate", "zzzz") < FuzzyMatch.Threshold)
  }

  test("mapColumns picks best incoming column per schema column") {
    val m = FuzzyMatch.mapColumns(
      Seq("county", "election_date", "total_votes"),
      Seq("County", "Election Date", "Total Votes", "Junk"))
    assert(m === Map(
      "county" -> "County",
      "election_date" -> "Election Date",
      "total_votes" -> "Total Votes"))
  }

  test("one source column feeds only the schema column it scores highest against") {
    // election_day also clears the threshold against "Election Date"
    assert(FuzzyMatch.wratio("election_day", "Election Date") > FuzzyMatch.Threshold)
    val m = FuzzyMatch.mapColumns(
      Seq("election_day", "election_date", "county"), Seq("Election Date", "County"))
    assert(m === Map("election_date" -> "Election Date", "county" -> "County"))
  }

  test("a tie between schema columns keeps the first in schema order") {
    val m = FuzzyMatch.mapColumns(Seq("vote_a", "vote_b"), Seq("Vote"))
    assert(FuzzyMatch.wratio("vote_a", "Vote") === FuzzyMatch.wratio("vote_b", "Vote"))
    assert(m === Map("vote_a" -> "Vote"))
  }

  test("candidate falls back to matching 'choice'") {
    val m = FuzzyMatch.mapColumns(Seq("candidate"), Seq("Choice", "County"))
    assert(m === Map("candidate" -> "Choice"))
  }

  test("no mapping emitted when nothing clears the threshold") {
    val m = FuzzyMatch.mapColumns(Seq("winner_flag"), Seq("abc", "xyz"))
    assert(m.isEmpty)
  }

  // ---- WRatio fidelity: fuzzywuzzy's extractOne default scorer is a
  // blend, not plain edit distance. These NCSBE-shaped header cases
  // are exactly where the two diverge around the 60 threshold
  // (reference ingestor_precinct.py:125-132).

  test("word-reordered header matches via token-sort (raw Levenshtein would miss)") {
    // "Name Precinct" is a token permutation: token_sort → 100 → ×0.95
    assert(FuzzyMatch.ratio("precinct_name", "Name Precinct") < FuzzyMatch.Threshold)
    assert(FuzzyMatch.wratio("precinct_name", "Name Precinct") === 95)
    val m = FuzzyMatch.mapColumns(Seq("precinct_name"), Seq("Name Precinct", "County"))
    assert(m === Map("precinct_name" -> "Name Precinct"))
  }

  test("substring-contained header matches via partial variants (raw Levenshtein would miss)") {
    // schema "candidate" ⊂ incoming "Candidate Name Last": the length
    // gap (19 vs 9 ≥ 1.5×) routes WRatio to the partial branch, where
    // the shared token makes partial_token_set 100 → ×0.95 ×0.9 ≈ 85
    // and the windowed partial ratio alone gives 100 → ×0.9 = 90.
    assert(FuzzyMatch.ratio("candidate", "Candidate Name Last") < FuzzyMatch.Threshold)
    assert(FuzzyMatch.wratio("candidate", "Candidate Name Last") >= 85)
    val m = FuzzyMatch.mapColumns(Seq("candidate"), Seq("Candidate Name Last", "County"))
    assert(m === Map("candidate" -> "Candidate Name Last"))
  }

  test("short-vs-long unrelated headers still fail the gate in the partial branch") {
    // partial windows must not fabricate similarity: "vote" against an
    // unrelated long header stays below 60 even with the 0.9 scale
    assert(FuzzyMatch.wratio("total_votes", "Precinct Sort Order") < FuzzyMatch.Threshold)
  }

  test("token-set ratio is 100 when one header's tokens contain the other's") {
    assert(FuzzyMatch.tokenSetRatio("contest name", "contest name group") === 100)
    assert(FuzzyMatch.tokenSortRatio("name contest", "contest name") === 100)
  }
}
