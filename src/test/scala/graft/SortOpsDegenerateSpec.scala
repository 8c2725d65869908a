package graft

/** The four SortOps queries on lineitem cut to 0 and to 1 row (the record
  * count of every sort tracks lineitem's row count). */
class SortOpsDegenerateSpec extends DegenerateTableSuite(
  DegenerateTable("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(0, 1),
    SortOps.queries, SortOps.oracle))
