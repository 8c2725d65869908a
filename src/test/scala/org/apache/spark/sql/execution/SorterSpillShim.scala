package org.apache.spark.sql.execution

/** Test access to the package-private spill hook of Spark's external row
  * sorter: after every `rows` inserted rows the sorter spills what it
  * holds to disk. */
object SorterSpillShim {
  def spillEvery(sorter: UnsafeExternalRowSorter, rows: Int): Unit =
    sorter.setTestSpillFrequency(rows)
}
