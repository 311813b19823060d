package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes, for every panel query, its row count under Spark and its
  * DuckDB oracle SQL (if it has one), as JSON. pin_counts.py turns this
  * into expected_counts.json.
  *
  * {{{ Pin <fixture dir> <out.json> }}}
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(fixture, out) = args
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = Main.workloads.values.flatMap(_.panel).toSeq.sorted.map { q =>
      val n = SparkEntry.queries(q)(spark, fixture).count()
      val sql = SparkEntry.oracleSql.get(q).map(s => s""""${Main.esc(s)}"""")
      s"""  "$q": {"spark_rows": $n, "oracle_sql": ${sql.getOrElse("null")}}"""
    }
    Main.ourTmp(spark).foreach(Fs.delete)
    spark.stop()
    Files.write(Fs.path(out), rows.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
