package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The frozen catalog: every query carries its DuckDB oracle. */
class CatalogSpec extends AnyFunSuite {

  test("queries and oracleSql name the same 124 queries") {
    assert(Catalog.queries.keySet == Catalog.oracleSql.keySet)
    assert(Catalog.queries.size == 124)
  }
}
