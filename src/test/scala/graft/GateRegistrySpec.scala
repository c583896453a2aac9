package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry as the families define it. The rows are spread over
  * one file per operator family and [[SparkEntry]] indexes them into
  * maps, and a map keeps only the last of two equal keys: a row name
  * used twice would silently drop a row. Needs no Spark session —
  * building the rows runs no query. */
class GateRegistrySpec extends AnyFunSuite {

  private val rows = SparkEntry.rows
  private val names = rows.map(_.name)

  test("228 rows with unique names, indexed one-to-one") {
    assert(rows.size == 228)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"row names defined more than once: $dups")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("20 contract rows") {
    assert(SparkEntry.ContractQueries.size == 20)
    assert(SparkEntry.ContractQueries == rows.filter(_.contract).map(_.name).toSet)
  }

  test("every row has a non-blank oracle") {
    val blank = rows.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"rows without oracle SQL: $blank")
  }

  test("the set of row names is pinned") {
    // Adding, removing or renaming a row changes this digest. Update it
    // in the same change as the row, and record the change in CHANGES.md:
    // the benchmark's gate_suite times every 27th pipeline row by name,
    // so a row change also changes what it measures.
    val md5 = MessageDigest.getInstance("MD5")
      .digest(names.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(md5 == "515a84f19555831956ef07c01aab7b0d")
  }
}
