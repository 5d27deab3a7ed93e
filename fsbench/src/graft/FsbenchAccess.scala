package graft

/** `IndexLayout` is package-private to the engine; the benchmark reads
  * an index table's data-file count through it from here. */
object FsbenchAccess {
  def dataFileCount(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    operators.IndexLayout.dataFileCount(spark, path)
}
