package graft.lang

import graft.SparkSpec
import graft.tools.GoldenTriage

/** Golden-corpus gate: the ported exec_test.go subtests
  * (tools/GoldenTriage.entries — app/vmselect/promql/exec_test.go
  * TestExecSuccess, expected vectors verbatim) must all pass, minus a
  * pinned exclusion list of known gaps. Run
  * `Test/runMain graft.tools.GoldenTriage` to see per-subtest PASS/FAIL when
  * curating the exclusions; shrink the list as gaps close — tests may
  * move OUT of it, never silently in (the floor assertion below).
  */
class GoldenCorpusSpec extends SparkSpec {

  /** subtests that do not pass yet. EMPTY as of round 5 — the full ported
    * corpus is green. New entries may only be added alongside a newly
    * ported subtest, never to re-pin a regression.
    */
  private val knownGaps: Set[String] = Set.empty

  test("ported exec_test.go corpus passes (minus pinned known gaps)") {
    val active = GoldenTriage.entries.filterNot(e => knownGaps(e.nm))
    assert(active.size >= 579, s"golden corpus shrank to ${active.size}")
    val failures = graft.TestPar.flatMapPar(active, 4)(e =>
      GoldenTriage.check(spark, e).map(m => s"${e.nm}: $m"))
    assert(failures.isEmpty,
      s"${failures.size} golden subtests failed:\n${failures.take(10).mkString("\n")}")
  }

  test("known-gap list only contains real entries") {
    val names = GoldenTriage.entries.map(_.nm).toSet
    val stale = knownGaps.filterNot(names)
    assert(stale.isEmpty, s"stale exclusions: $stale")
  }
}
