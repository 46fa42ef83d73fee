package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Sql

/** The one rule for rendering fixture strings into oracle SQL. */
class SqlQuoteSpec extends AnyFunSuite {

  test("quote: null is a typed NULL, quotes are doubled") {
    assert(Sql.quote(null) === "CAST(NULL AS VARCHAR)")
    assert(Sql.quote("o'k") === "'o''k'")
  }
}
