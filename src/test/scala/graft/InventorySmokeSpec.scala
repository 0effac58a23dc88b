package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-inventory contract + smoke: the driver-facing maps stay
  * consistent, and every batch query executes at sf0.001 and returns the
  * result locked in `digests/sf0.001.json` (see [[DigestLock]]; the
  * oracle VALUE check runs in Verify). */
class InventorySmokeSpec extends AnyFunSuite with TestSession {

  test("driver contract: oracle map keys ⊆ query map keys; rows-only is the exception") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
    val rowsOnly = qs.diff(os)
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  test("entry: flagship returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  DigestLock.gates.foreach { name =>
    test(s"smoke: $name executes at sf0.001 with a non-empty schema") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.schema.nonEmpty)
      val got =
        try DigestLock.digest(df) // any runtime failure surfaces here
        finally queries.Scratch.release(spark) // the harness discipline
      assert(DigestLock.expected.get(name).contains(got),
        s"$name: (rows, digest) $got, locked ${DigestLock.expected.get(name)}")
    }
  }
}
