package graft

/** `q_graph_pagerank` on an empty nation: no nodes, so no ranks — and no
  * division by the node count. */
class GraphDegenerateSpec extends DegenerateTableSuite(
  DegenerateTable("nation", Seq("n_nationkey"), Seq(0),
    GraphOps.queries.filter(_._1 == "q_graph_pagerank"), GraphOps.oracle))
