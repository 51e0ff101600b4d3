package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The driver maps are assembled from the `graft.queries` family
  * lists; these checks need no Spark session. */
class QuerySpecsSpec extends AnyFunSuite {

  private val specs = SparkEntry.families.flatMap(_.specs)

  test("query specs: names are unique across all family lists") {
    // a duplicate would silently drop one query from the driver maps
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == specs.size)
  }

  test("query specs: each name starts with its family's prefix") {
    val misfiled = for {
      f <- SparkEntry.families
      q <- f.specs if !q.name.startsWith(f.prefix)
    } yield s"${q.name} in ${f.getClass.getSimpleName.stripSuffix("$")}"
    assert(misfiled.isEmpty, misfiled.mkString(", "))
  }

  test("driver maps: every query has an oracle and a bench entry") {
    // tools/check_oracle.py loops over the oracle keys only, so a
    // query without an oracle would go unchecked
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet == qs,
      s"queries without an oracle: ${qs -- SparkEntry.oracleSql.keySet}")
    val bench = SparkEntry.benchQueries.keySet
    assert(bench == qs, s"bench keys differ: ${(bench -- qs) ++ (qs -- bench)}")
  }

  test("oracle text: sha256 of the sorted (name, oracleSql) pairs is pinned") {
    // a change that edits an oracle on purpose updates this constant
    // and says why in CHANGES.md
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\u0000".getBytes(UTF_8))
    }
    val digest = md.digest().map(b => f"$b%02x").mkString
    assert(digest == "6c6eca63b837895d93576498e29f59359fe9427f463fc0b5dd8d8c1afc5168ee")
  }
}
