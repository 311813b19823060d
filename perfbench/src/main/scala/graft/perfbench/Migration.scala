package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{IncrementalRunner, MigrateApp, ParquetRangeSink, StateStore}

/** One migration command against a work dir. Untraced, it is the CLI's
  * own `MigrateApp.dispatch`. Traced, it builds the same runner, sink
  * and state store as `dispatch` does, wrapped in timing decorators, and
  * returns the same status line. */
final class Cli(spark: SparkSession, tr: Tracer) {
  def apply(cmd: String, src: String, pk: String, work: String, batch: Long): String =
    if (!tr.enabled) MigrateApp.dispatch(spark, cmd, src, pk, work, batch)
    else {
      val source = spark.read.parquet(src)
      val table = src.split('/').last.stripSuffix(".parquet")
      val state = new TimedState(new StateStore(spark, s"$work/state"), tr,
        v => Fs.path(s"$work/state/v=$v"))
      val plain = new ParquetRangeSink(s"$work/data")
      val sink = new TimedSink(plain, tr, (t, lo, hi) => Fs.path(plain.path(t, lo, hi)))
      val runner = new IncrementalRunner(spark, state, sink, batch)
      cmd match {
        case "run" | "sync" =>
          val recs = runner.run(source, table, pk)
          s"[$cmd] migrated ${recs.size} ranges, " +
            s"${recs.map(_.rowCount).sum} rows; frontier=${state.frontier(table)}"
        case "check" =>
          val bad = runner.validate(source, table, pk)
          s"[check] ${bad.size} mismatched ranges" +
            (if (bad.isEmpty) "" else s": ${bad.map(r => s"(${r.pkLower},${r.pkUpper}]").mkString(" ")}")
        case "retry" =>
          s"[retry] re-migrated ${runner.retry(source, table, pk).size} ranges"
      }
    }
}

object Migration {
  /** Ranges named in a `check` status line, as (lower, upper). */
  def flagged(line: String): Set[(Long, Long)] =
    """\((-?\d+),(-?\d+)\]""".r.findAllMatchIn(line)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSet

  /** Row count and an order-independent hash of every row. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftright(h, 32)))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def sinkRows(spark: SparkSession, work: String, table: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$work/data/$table")

  /** Replaces a range directory with the first half of its rows. */
  def truncate(spark: SparkSession, dir: Path): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    val df = spark.read.parquet(dir.toString)
    df.limit((df.count() / 2).toInt).write.parquet(tmp.toString)
    Fs.delete(dir)
    Files.move(tmp, dir)
  }
}
