package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.{Query, RowsOnly, Sql}

/** The query registry's own contract; builds no DataFrame. */
class RegistrySpec extends AnyFunSuite {

  test("registry: every rows-only record has a cause and names an existing suite") {
    val rowsOnly = SparkEntry.registry.collect { case Query(n, _, r: RowsOnly) => n -> r }
    assert(rowsOnly.nonEmpty)
    rowsOnly.foreach { case (name, RowsOnly(cause, pinnedBy)) =>
      assert(cause.trim.nonEmpty, s"$name has no rows-only cause")
      val suite = scala.util.Try(Class.forName(s"graft.$pinnedBy")).toOption
      assert(suite.exists(classOf[org.scalatest.Suite].isAssignableFrom),
        s"$name is pinned by $pinnedBy, which is not a suite in package graft")
    }
  }

  test("registry: a duplicate query name is rejected") {
    val q = Query("dup", (s, _) => s.emptyDataFrame, Sql("SELECT 1"))
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(q, q.copy(oracle = RowsOnly("c", "s")))))
    assert(e.getMessage.contains("dup"))
  }
}
