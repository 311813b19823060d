package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry}
import graft.etl.StateStore

/** One benchmark rep: a fresh process that migrates one table through
  * the CLI's `run`/`sync`/`check`/`retry` and then times one half of the
  * registry panel, first fully materialized, then by `.count()`.
  *
  * Called by run.py, which builds this package, generates the fixture
  * and turns the JSON line this prints into the benchmark's result.
  *
  * {{{
  * Main --workload <name> --seed <n> --trace <0|1> --fixture <dir>
  *      --work <empty dir> --expected <expected_counts.json>
  *      --cpus <n> --spans <trace file> --t0-ms <epoch ms of process launch>
  * }}}
  */
object Main {
  /** A migration shape: which fixture table, keyed on what, in which
    * batch size, and how many of its sink ranges recovery must repair. */
  final case class Shape(table: String, pk: String, batch: Long, damaged: Int)

  final case class Workload(shape: Shape, panel: Seq[String])

  // Each workload also times one half of the registry panel, so that
  // every end-to-end metric comes from every workload. The halves
  // split the staging mechanisms: PriceStage only in the lineitem half,
  // ShingleStage only in the orders half.
  val workloads: Map[String, Workload] = Map(
    "migrate_orders" -> Workload(Shape("orders", "o_orderkey", 5000L, 3), Seq(
      "q_dedup_ngram", "q_dedup_clusters", "q_dedup_canonical")),
    "migrate_lineitem" -> Workload(Shape("lineitem", "l_orderkey", 25000L, 3), Seq(
      "q_pricing_summary", "q_bootstrap_ci",
      "q_percentile_disc", "q_weighted_percentile", "q_winsorize")))

  /** Seconds charged to an op that failed, so that a failure never
    * reads as a fast run. */
  val PenaltySeconds = 60.0

  /** The panel by `.count()` is short and read-only, so it runs this
    * many times; its metric is the median pass and its per-layer numbers
    * are per pass. */
  val CountPasses = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final class Op(val name: String) {
    var seconds: Double = PenaltySeconds
    var ok = false
    var error = ""
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    def elapsed(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - a("t0-ms").toLong) / 1e3}%.2f s")
    val wl = workloads.getOrElse(a("workload"), sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val fixture = a("fixture")
    val work = a("work")
    val cpus = a("cpus")
    val expected = """"(q_\w+)"\s*:\s*(\d+)""".r
      .findAllMatchIn(new String(Files.readAllBytes(Fs.path(a("expected"))), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(trace)
    elapsed("session up")
    val listener = new PhaseListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val ops = mutable.ArrayBuffer.empty[Op]
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]
    // java.util.Random's first draws barely differ between nearby seeds
    val rnd = new java.util.Random(new java.util.SplittableRandom(seed).nextLong())

    /** Times `body` as one op of `phase`; with tracing on, under that
      * phase's job group and span. */
    def timed(op: Op, phase: String)(body: => Boolean): Unit = {
      tr.phase = phase
      if (trace) spark.sparkContext.setJobGroup(phase, phase)
      val t0 = System.nanoTime()
      try {
        val ok = tr.span(phase)(body)
        op.seconds = (System.nanoTime() - t0) / 1e9
        op.ok = ok
        if (!ok) op.error = "correctness check failed"
      } catch { case e: Throwable => op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      finally if (trace) spark.sparkContext.clearJobGroup()
      if (!op.ok) op.seconds = math.max(op.seconds, PenaltySeconds)
    }
    def op(name: String): Op = { val o = new Op(name); ops += o; o }
    // Persisted RDDs under the Caches scope contract. Local checkpoints
    // (iterative queries truncate lineage with them) are not scoped
    // persists; the context cleaner drops them once unreachable.
    def scoped(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.filterNot(_._2.isCheckpointed).keySet.toSet

    tr.span(a("workload")) {
      // ---- set-up: warm-up, then the seeded source prefix ----
      warmUp(spark, s"$work/warm", tr, if (trace) Some(op("selftest")) else None)

      elapsed("warm-up done")
      val sh = wl.shape
      val full = spark.read.parquet(s"$fixture/${sh.table}.parquet")
      val b = full.agg(min(col(sh.pk)), max(col(sh.pk))).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      // the sync delta: a seeded share of the PK span, 17.5-19.2%, so the
      // count of sync ranges is the same for every seed on both shapes
      val cut = hi - math.round((hi - lo) * (0.175 + 0.0166 * rnd.nextDouble()))
      val src = s"$work/src/${sh.table}"
      full.filter(col(sh.pk) <= cut).coalesce(1).write.parquet(src)
      val prefixRows = spark.read.parquet(src).count()
      val cli = new Cli(spark, tr)
      def cmd(c: String): String = cli(c, src, sh.pk, work, sh.batch)
      val dataDir = s"$work/data"
      def sinkMatchesSource(): Boolean =
        Migration.fingerprint(spark.read.parquet(src)) ==
          Migration.fingerprint(Migration.sinkRows(spark, work, sh.table))
      val setupS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3

      // ---- migration ----
      elapsed("set-up done")
      val run = op("run")
      timed(run, "run") { cmd("run").startsWith("[run] migrated") }
      full.filter(col(sh.pk) > cut).coalesce(1).write.mode("append").parquet(src)
      val totalRows = spark.read.parquet(src).count()
      val sync = op("sync")
      timed(sync, "sync") { cmd("sync").startsWith("[sync] migrated") }
      if (sync.ok && !sinkMatchesSource()) { sync.ok = false; sync.error = "sink differs from source after sync" }
      val check = op("check")
      timed(check, "check") { cmd("check") == "[check] 0 mismatched ranges" }

      // damage k seeded ranges: delete some, truncate the others
      val recs = new StateStore(spark, s"$work/state").read().sortBy(_.pkLower)
      val hit = rnd.ints(0, recs.size).distinct().limit(sh.damaged).toArray.map(recs(_))
      hit.foreach { r =>
        val dir = Fs.path(s"$dataDir/${sh.table}/range_${r.pkLower}_${r.pkUpper}")
        if (rnd.nextBoolean()) Fs.delete(dir) else Migration.truncate(spark, dir)
      }
      val damaged = hit.map(r => (r.pkLower, r.pkUpper)).toSet
      var flaggedN = 0
      val recover = op("recover")
      timed(recover, "recover") {
        val flagged = Migration.flagged(cmd("check"))
        flaggedN = flagged.size
        val retried = cmd("retry")
        flagged == damaged && retried == s"[retry] re-migrated ${damaged.size} ranges"
      }
      if (recover.ok && !sinkMatchesSource()) { recover.ok = false; recover.error = "sink differs from source after recovery" }
      val srcBytes = Files.walk(Fs.path(src)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum

      e2e("run_rows_per_s") = (prefixRows / run.seconds, "rows/s")
      e2e("sync_s") = (sync.seconds, "s")
      e2e("check_rows_per_s") = (totalRows / check.seconds, "rows/s")
      e2e("recover_s") = (recover.seconds, "s")
      e2e("sink_bytes_per_src_byte") = (Fs.bytes(Fs.path(dataDir)).toDouble / srcBytes, "ratio")
      detail("sync_cut") = cut.toString
      detail("damaged_ranges") = damaged.toSeq.sorted.map { case (l, h) => s"($l,$h]" }.mkString(" ")
      detail("source_rows") = s"$prefixRows + ${totalRows - prefixRows}"

      elapsed("migration done")
      // ---- registry panel ----
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(wl.panel)
      detail("panel_order") = order.mkString(" ")
      val tmpBefore = ourTmp(spark).toSet
      val passS = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Seq.empty)
      var leaked = 0
      // materialized first: the one-time stage builds land on it
      for (axis <- Seq("materialized") ++ Seq.fill(CountPasses)("count")) {
        var total = 0.0
        val walls = mutable.ArrayBuffer.empty[String]
        for (q <- order) {
          val o = op(s"$axis:$q")
          val before = scoped()
          timed(o, axis) {
            val df = tr.span("queries.construct")(SparkEntry.queries(q)(spark, fixture))
            tr.span("queries.action") {
              if (axis == "count") df.count() == expected(q)
              else { df.write.format("noop").mode("overwrite").save(); true }
            }
          }
          // Caches releases a query's temporary persists from a listener,
          // after the action returns: wait for it, untimed.
          val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
          def left = scoped() -- before
          while ((Caches.ownedCount != 0 || left.nonEmpty) && System.nanoTime() < deadline)
            Thread.sleep(20)
          if (left.nonEmpty) {
            leaked += left.size
            if (o.ok) { o.ok = false; o.error = s"left ${left.size} persisted RDDs" }
          }
          Caches.drain()
          total += o.seconds
          walls += f"$q=${o.seconds}%.3f"
        }
        passS(axis) :+= total
        detail(s"panel_${axis}_walls") = (detail.get(s"panel_${axis}_walls").toSeq :+ walls.mkString(" ")).mkString(" | ")
      }
      val panelS = passS.map { case (k, v) => k -> median(v) }
      e2e("panel_materialized_s") = (panelS("materialized"), "s")
      e2e("panel_count_s") = (panelS("count"), "s")
      e2e("setup_s") = (setupS, "s")

      // ---- per-layer metrics (traced run) ----
      if (trace) {
        val mine = ourTmp(spark).filterNot(tmpBefore)
        val stages = mine.filter(p => p.getFileName.toString.matches("graft_(price|shingle)_stage_.*"))
        def sum(phase: String, name: String) = tr.calls(phase, name).map(s => (s.end - s.start) / 1e9).sum
        def n(phase: String, name: String) = tr.calls(phase, name).size.toDouble
        def sinkW(p: String) = Seq(s"$p.etl.sink.write_s" -> (sum(p, "etl.sink.write"), "s"),
          s"$p.etl.sink.write_calls" -> (n(p, "etl.sink.write"), "count"))
        def sinkC(p: String) = Seq(s"$p.etl.sink.count_s" -> (sum(p, "etl.sink.count"), "s"),
          s"$p.etl.sink.count_calls" -> (n(p, "etl.sink.count"), "count"))
        def stateU(p: String) = Seq(s"$p.etl.state.upsert_s" -> (sum(p, "etl.state.upsert"), "s"),
          s"$p.etl.state.upsert_calls" -> (n(p, "etl.state.upsert"), "count"),
          s"$p.etl.state.bytes_written" -> (tr.counters(s"$p.etl.state.bytes_written"), "bytes"))
        def stateR(p: String) = Seq(s"$p.etl.state.read_s" -> (sum(p, "etl.state.read"), "s"))
        def self(p: String) = Seq(s"$p.etl.runner.self_s" ->
          (tr.spans.filter(_.name == p).map(tr.selfSeconds).sum, "s"))
        // layers a phase never calls are left out: they read 0 by construction
        layers ++= sinkW("run") ++ stateU("run") ++ stateR("run") ++ self("run")
        layers ++= sinkW("sync") ++ stateU("sync") ++ stateR("sync") ++ self("sync")
        layers ++= sinkC("check") ++ stateR("check") ++ self("check")
        layers ++= sinkW("recover") ++ sinkC("recover") ++ stateU("recover") ++ stateR("recover") ++ self("recover")
        val writes = tr.calls("run", "etl.sink.write")
        val upserts = tr.calls("run", "etl.state.upsert")
        val ranges = writes.zip(upserts).map { case (w, u) => (u.end - w.start) / 1e6 }.sorted
        val tailPct = math.max(50, math.floor(100.0 * (1 - 10.0 / ranges.size)).toInt)
        def pct(p: Int) = if (ranges.isEmpty) 0.0 else ranges(math.min(ranges.size - 1, ranges.size * p / 100))
        layers("run.etl.range_p50_ms") = (pct(50), "ms")
        layers("run.etl.range_tail_ms") = (pct(tailPct), "ms")
        detail("run_range_tail_percentile") = s"p$tailPct of ${ranges.size} ranges"
        layers("run.etl.jobs_per_range") = (listener.agg("run").jobs.toDouble / math.max(1, ranges.size), "ratio")
        layers("run.etl.sink.bytes_written") = (tr.counters("run.etl.sink.bytes_written"), "bytes")
        layers("recover.etl.flagged_per_damaged") = (flaggedN.toDouble / sh.damaged, "ratio")
        // GC time (ms-grained) and spill are 0 outside the materialized
        // panel at this scale, so they are kept for that phase only
        for (p <- Seq("run", "sync", "check", "recover", "count", "materialized");
             (k, v, u) <- listener.metrics(p)
             if p == "materialized" || !(k.endsWith(".gc_s") || k.endsWith(".spill_bytes")))
          layers(k) = (v, u)
        for (axis <- Seq("count", "materialized"); part <- Seq("construct", "action"))
          layers(s"$axis.queries.${part}_s") = (sum(axis, s"queries.$part"), "s")
        layers("stage.builds") = (stages.size.toDouble, "count")
        layers("stage.bytes") = (stages.map(Fs.bytes).sum.toDouble, "bytes")
        layers("stage.tmp_bytes_left") = (mine.map(Fs.bytes).sum.toDouble, "bytes")
        layers("caches.leaked_blocks") = (leaked.toDouble, "count")
        layers("registry.count_over_materialized") = (panelS("count") / panelS("materialized"), "ratio")
        layers.mapValuesInPlace { case (k, (v, u)) =>
          if (k.startsWith("count.")) (v / CountPasses, u) else (v, u)
        }
        detail("self_s_by_span") = tr.spans.groupBy(_.name).toSeq
          .map { case (n, ss) => (n, ss.map(tr.selfSeconds).sum) }.sortBy(-_._2)
          .map { case (n, v) => f"$n=$v%.3f" }.mkString(" ")
      }
    }

    elapsed("panel done")
    e2e("peak_rss_mb") = (peakRssMb(), "MB")
    ourTmp(spark).foreach(Fs.delete)
    spark.stop()
    if (trace) tr.write(Fs.path(a("spans")))

    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val opsJson = ops.map(o => s"""{"name":"${o.name}","ok":${o.ok},"seconds":${num(o.seconds)},""" +
      s""""error":"${esc(o.error)}"}""").mkString("[", ",", "]")
    val det = detail.map { case (k, v) => s""""$k":"${esc(v)}"""" }.mkString("{", ",", "}")
    println(s"""{"ops":$opsJson,"end_to_end":${obj(e2e)},"per_layer":${obj(layers)},"detail":$det}""")
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }

  /** The /tmp/graft_* dirs this process and its queries made: the
    * program names them by pid or by Spark app id. */
  def ourTmp(spark: SparkSession): Seq[Path] = {
    val pid = ProcessHandle.current().pid().toString
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    Option(new java.io.File("/tmp").listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("graft_") && (n.contains(pid) || n.contains(app)))
      .map(n => Fs.path(s"/tmp/$n"))
  }

  def peakRssMb(): Double =
    Files.readAllLines(Fs.path("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Untimed warm-up on synthetic data only, so that no fixture stage is
    * built: one single-range migration through the CLI path, which takes
    * the JVM's and Spark's first-use costs out of the first timed op.
    * With tracing on it is also the self-test: the decorated CLI path
    * must leave the same state records and sink rows as
    * `MigrateApp.dispatch`. */
  def warmUp(spark: SparkSession, dir: String, tr: Tracer, selftest: Option[Op]): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val src = s"$dir/src/warm"
    spark.range(0, 5000).select(col("id").as("k"), (col("id") * 7 % 1000).as("v"),
      concat(lit("r"), col("id")).as("s")).coalesce(1).write.parquet(src)
    def cycle(cli: Cli, work: String): Unit =
      Seq("run", "check").foreach(c => cli(c, src, "k", work, 5000L))
    cycle(new Cli(spark, new Tracer(false)), s"$dir/plain")
    selftest.foreach { selftest =>
      val t0 = System.nanoTime()
      try {
        tr.span("selftest")(cycle(new Cli(spark, tr), s"$dir/traced"))
        def records(w: String) = new StateStore(spark, s"$w/state").read()
          .map(x => (x.table, x.pkLower, x.pkUpper, x.rowCount, x.status)).sorted
        def rows(w: String) = Migration.fingerprint(Migration.sinkRows(spark, w, "warm"))
        selftest.ok = records(s"$dir/plain") == records(s"$dir/traced") &&
          rows(s"$dir/plain") == rows(s"$dir/traced")
        if (!selftest.ok) selftest.error = "traced CLI path differs from MigrateApp.dispatch"
      } catch { case e: Throwable => selftest.error = e.toString }
      selftest.seconds = (System.nanoTime() - t0) / 1e9
    }
  }
}
