package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, PerfbenchShim, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.{Engine, GraftSqlParser}

/** One operation of a workload. `kind` is `query` for a DataFrame query,
  * or the statement class (`ddl`, `dml`, `query`) of a HiveQL statement.
  * `build` returns the DataFrame still to be materialized, if any. */
final case class Op(name: String, kind: String,
                    build: SparkSession => Option[DataFrame])

/** One timed operation. Times are System.nanoTime readings. */
final case class Sample(id: Int, op: Op, t0: Long, t1: Long, t2: Long,
                        error: Option[String]) {
  def seconds: Double = (t2 - t0) / 1e9
}

/** The JVM side of the benchmark: builds the engine session, warms up
  * (capturing every query's output for the correctness check), runs the
  * timed region(s) and writes `result.json` (plus `spans.json` when traced)
  * into `--out`. run.py generates the inputs, launches this, checks the
  * captured outputs against DuckDB and prints the metrics. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        minPasses: Int, trace: Boolean, data: String, out: String,
                        script: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("min-passes").toInt,
      m("trace") == "1", m("data"), m("out"), m.get("script"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Jvm.PostGcHeap.install()

    val t0 = System.nanoTime()
    val spark = Engine.session(appName = "perfbench")
    val sessionS = secs(t0)
    val t1 = System.nanoTime()
    Engine.tables(spark, a.data)
    val tablesS = secs(t1)

    val etl = a.workload == "hiveql_etl"
    if (etl) Etl.enable(spark, s"${a.out}/ledger")
    val ops = if (etl) Etl.ops(a.script.get, "t_") else Queries.ops(a.workload, a.data, a.seed)
    // Warm-up, outside the timed region: every query once on the run's
    // inputs, on all cores, writing its output for the correctness
    // check; the ETL script once on tables of its own. The ETL tables
    // are captured after the timed region, whose result they are.
    val warmErrors =
      if (etl) runAll(spark, Etl.ops(a.script.get, "w_"), parallel = false, capture = None)
      else runAll(spark, ops, parallel = true, capture = Some(a.out))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val registerS = median((1 to 3).map { _ =>
      val s = spark.newSession()
      val t = System.nanoTime()
      graft.functions.Registry.registerAll(s)
      secs(t)
    })

    val regions = (if (a.trace) Seq(false, true) else Seq(false))
      .map(traced => traced -> new Region(spark, ops, a, traced).run())

    val etlFinal = if (etl) Etl.capture(spark, a.script.get, "t_", a.out) else Map.empty
    val oracle = if (etl) Map.empty[String, String]
      else graft.SparkEntry.oracleSql.filter(kv => ops.exists(_.name == kv._1))

    val result = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "ops_per_pass" -> ops.size,
      "setup" -> Map(
        "setup_s" -> setupS,
        "engine.session_s" -> sessionS,
        "engine.tables_s" -> tablesS,
        "functions.register_s" -> registerS),
      "warm_errors" -> warmErrors,
      "ops" -> ops.map(_.name),
      "oracle_sql" -> oracle,
      "etl" -> etlFinal,
      "regions" -> regions.map { case (traced, r) =>
        (if (traced) "traced" else "untraced") -> r }.toMap,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    json.writeValue(new File(s"${a.out}/result.json"), result)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs each op once, on `cores` threads when `parallel`, writing each
    * result as parquet under `capture/<op>`. Returns failures by op. */
  def runAll(s: SparkSession, ops: Seq[Op], parallel: Boolean,
             capture: Option[String]): Map[String, String] = {
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def one(op: Op): Unit =
      try op.build(s).foreach { df =>
        capture match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/capture/${op.name}")
          case None => df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => errors.put(op.name, brief(e)) }
    if (!parallel) ops.foreach(one)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        s.sparkContext.defaultParallelism)
      try ops.map(op => pool.submit(new Runnable { def run(): Unit = one(op) }))
        .foreach(_.get())
      finally pool.shutdown()
    }
    import scala.jdk.CollectionConverters._
    errors.asScala.toMap
  }

  def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(300)
}

/** The DataFrame query workloads over `SparkEntry`'s query modules. */
object Queries {
  private def modules(workload: String) = workload match {
    case "olap" => Seq(graft.queries.Relational.queries, graft.queries.Windows.queries,
      graft.queries.SetOps.queries, graft.queries.Subqueries.queries,
      graft.queries.Generators.queries, graft.queries.FunctionSweeps.queries,
      graft.queries.TypeSystem.queries)
    case "pipeline" => Seq(graft.queries.Pipeline.queries, graft.queries.Curation.queries)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Every query of the workload once, in an order drawn from the seed. */
  def ops(workload: String, dir: String, seed: Long): Seq[Op] = {
    val all = modules(workload).reduce(_ ++ _)
    new scala.util.Random(seed).shuffle(all.keys.toSeq.sorted).map { name =>
      val f = all(name)
      Op(name, "query", s => Some(f(s, dir)))
    }
  }
}

/** The HiveQL ETL workload: a script of `kind<TAB>statement` lines sent
  * through the dialect entry (`HiveStatements.sql`). `{p}` in a
  * statement is the table-name prefix of the session running it. */
object Etl {
  def enable(s: SparkSession, ledger: String): Unit = {
    s.conf.set("spark.graft.dialect", "true")
    s.conf.set("spark.graft.metastore.path", ledger)
  }

  private def lines(script: String): Seq[(String, String)] =
    scala.io.Source.fromFile(script, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(kind, sql) = l.split("\t", 2); kind -> sql }.toSeq

  def ops(script: String, prefix: String): Seq[Op] =
    lines(script).zipWithIndex.collect {
      case ((kind, sql), i) if kind != "check" =>
        val text = sql.replace("{p}", prefix)
        Op(f"s$i%02d_$kind", kind, s => GraftSqlParser.statements(s).sql(text))
    }

  /** Writes the `check` reads and the final sales table as parquet, and
    * measures the table's on-disk bytes against that one-file copy. */
  def capture(s: SparkSession, script: String, prefix: String,
              out: String): Map[String, Any] = {
    val hs = GraftSqlParser.statements(s)
    lines(script).collect { case ("check", sql) => sql }.zipWithIndex.foreach {
      case (sql, i) => hs.sql(sql.replace("{p}", prefix)).get
        .write.mode("overwrite").parquet(s"$out/capture/check_$i")
    }
    val table = s"${prefix}sales"
    val compact = s"$out/capture/table_sales"
    s.table(table).coalesce(1).write.mode("overwrite").parquet(compact)
    val (files, bytes) = dataFiles(new File(s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location))
    Map("table_sales" -> Map("files" -> files, "bytes" -> bytes,
      "compact_bytes" -> dataFiles(new File(compact))._2))
  }

  /** Count and total size of the non-hidden files under `dir`. */
  def dataFiles(dir: File): (Long, Long) = {
    val fs = mutable.ArrayBuffer[File]()
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) fs += f
    walk(dir)
    (fs.size.toLong, fs.map(_.length()).sum)
  }
}

/** One timed pass: wall and process CPU seconds, the ops that succeeded,
  * the peak post-GC heap in bytes, and the JVM's GC and JIT counters. */
final case class Pass(wallS: Double, cpuS: Double, ok: Int, heapPeak: Long,
                      gcCount: Long, gcMs: Long, jitMs: Long)

/** The timed region: whole passes over the op list, one client, until
  * `--seconds` have passed and at least `--min-passes` passes ran.
  * Throughput, CPU and heap are taken per pass and reported for the best
  * pass, and latencies from each op's best time over the passes: load from
  * elsewhere on the host only ever adds time, and the first timed pass
  * of a JVM still spends much of its CPU compiling what it runs. */
final class Region(spark: SparkSession, ops: Seq[Op], a: Main.Args,
                   traced: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val tracer = if (traced) Some(new Tracer) else None
  private val etl = a.workload == "hiveql_etl"

  private def runOp(op: Op): Sample = {
    val id = ids.incrementAndGet()
    sc.setJobGroup(Group(id, "build"), op.name)
    val t0 = System.nanoTime()
    var t1 = t0
    val error =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        sc.setJobGroup(Group(id, "exec"), op.name)
        df.foreach { d =>
          tracer.foreach(_.addTracker(Group(id, "build"), d.queryExecution.tracker))
          d.write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(Main.brief(e)) }
      finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    Sample(id, op, t0, t1, t2, error)
  }

  def run(): Map[String, Any] = {
    tracer.foreach(sc.addSparkListener)
    val epoch0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    val samples = mutable.ArrayBuffer[Sample]()
    val perPass = mutable.ArrayBuffer[Pass]()
    do {
      // Each pass starts from a collected heap, so its post-GC peak does
      // not carry what the pass before it promoted; the collections
      // between passes are outside every pass's figures.
      Jvm.PostGcHeap.settle()
      Jvm.PostGcHeap.reset()
      val gc0 = Jvm.gcCount; val gcMs0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      val p0 = System.nanoTime(); val c0 = Jvm.cpuNs
      val done = ops.map(runOp)
      val pass = Pass(Region.elapsed(p0), (Jvm.cpuNs - c0) / 1e9,
        done.count(_.error.isEmpty), 0L, Jvm.gcCount - gc0, Jvm.gcMs - gcMs0, Jvm.jitMs - jit0)
      Jvm.PostGcHeap.settle()
      samples ++= done
      perPass += pass.copy(heapPeak = Jvm.PostGcHeap.value)
    } while (perPass.size < a.minPasses || Region.elapsed(nano0) < a.seconds)
    val passes = perPass.size
    val wallS = perPass.map(_.wallS).sum
    val gcCount = perPass.map(_.gcCount).sum; val gcS = perPass.map(_.gcMs).sum / 1e3
    val jitS = perPass.map(_.jitMs).sum / 1e3
    tracer.foreach { t =>
      PerfbenchShim.drain(sc)
      sc.removeSparkListener(t)
    }

    val ok = samples.filter(_.error.isEmpty)
    val n = ok.size
    val perOp = ok.groupBy(_.op.name).map { case (k, v) => k -> v.map(_.seconds).min }
    val lat = perOp.values.toSeq.sorted
    // The highest percentile with ten ops beyond it in one pass, and p90
    // for a pass of fewer than 40 ops. It is taken from the pass size, so
    // a faster engine fitting more passes in the region reads the same one.
    val tailPct = if (ops.size < 40) 90.0 else math.floor(1000.0 * (1 - 10.0 / ops.size)) / 10
    def pct(p: Double): Double =
      if (lat.isEmpty) 0.0 else lat(math.max(0, math.ceil(p / 100 * lat.size).toInt - 1))
    val toMs = (t: Long) => epoch0 + (t - nano0) / 1e6
    val base = Map[String, Any](
      "passes" -> passes,
      "wall_s" -> wallS,
      "attempted" -> samples.size,
      "failed" -> (samples.size - n),
      "errors" -> samples.filter(_.error.nonEmpty)
        .map(s => Map("op" -> s.op.name, "error" -> s.error.get)),
      "ops_per_s" -> perPass.map(p => p.ok / p.wallS).max,
      "latency_p50_s" -> pct(50),
      "latency_tail_s" -> pct(tailPct),
      "latency_tail_pct" -> tailPct,
      "latency_n" -> n,
      "process_cpu_s" -> perPass.map(_.cpuS).min,
      "heap_peak_mb" -> perPass.map(_.heapPeak).min / 1048576.0,
      "pass_wall_s" -> perPass.map(_.wallS),
      "pass_cpu_s" -> perPass.map(_.cpuS),
      "pass_heap_peak_mb" -> perPass.map(_.heapPeak / 1048576.0),
      "per_op_s" -> perOp)
    tracer match {
      case None => base
      case Some(t) =>
        val layers = new Layers(t, samples.toSeq, passes, wallS, epoch0,
          toMs(System.nanoTime()), toMs, etl, sc.defaultParallelism)
        Spans.write(s"${a.out}/spans.json", layers.spans)
        base ++ Map("layers" -> layers.metrics(gcS / passes, gcCount.toDouble / passes,
          jitS / passes), "self_time_share" -> layers.selfShares)
    }
  }
}

object Region {
  def elapsed(nano0: Long): Double = (System.nanoTime() - nano0) / 1e9
}

/** Per-layer figures of one traced region, per pass. */
final class Layers(t: Tracer, samples: Seq[Sample], passes: Int, wallS: Double,
                   startMs: Double, endMs: Double, toMs: Long => Double,
                   etl: Boolean, cores: Int) {
  private val groups = t.allGroups
  private def sum(f: GroupStats => Long, phase: Option[String] = None): Double =
    groups.collect { case (Group(_, p), s) if phase.forall(_ == p) => f(s).toDouble }.sum
  private def per(x: Double): Double = x / passes
  private val mb = 1048576.0
  private val jobs = t.jobSpans.toArray(Array.empty[(String, Int, Long, Long)]).toSeq
    .filter { case (g, _, _, _) => Group.unapply(g).isDefined }
  private val jobUnion = Intervals.union(jobs.map(j => (j._3.toDouble, j._4.toDouble)))
  private val buildLayer = if (etl) "graft.HiveStatements" else "graft.queries"

  def metrics(gcS: Double, gcCount: Double, jitS: Double): Map[String, Double] = {
    val byKind = samples.groupBy(_.op.kind)
      .map { case (k, v) => k -> v.map(s => (s.t1 - s.t0) / 1e9).sum }
    val runS = sum(_.runMs) / 1e3
    val graftInv = sum(_.graftInvocations)
    Map(
      "queries.build_s" -> (if (etl) 0.0 else per(samples.map(s => (s.t1 - s.t0) / 1e9).sum)),
      "queries.build_jobs" -> (if (etl) 0.0 else per(sum(_.jobs, Some("build")))),
      "queries.execute_s" -> (if (etl) 0.0 else per(samples.map(s => (s.t2 - s.t1) / 1e9).sum)),
      "catalyst.analysis_s" -> per(sum(_.analysisMs) / 1e3),
      "catalyst.optimization_s" -> per(sum(_.optimizationMs) / 1e3),
      "catalyst.planning_s" -> per(sum(_.planningMs) / 1e3),
      "catalyst.rule_s" -> per(sum(_.ruleNs) / 1e9),
      "catalyst.aqe_replans" -> per(sum(_.aqeReplans)),
      "plans.rule_s" -> per(sum(_.graftRuleNs) / 1e9),
      "plans.rule_effective_ratio" -> (if (graftInv == 0) 0.0 else sum(_.graftEffective) / graftInv),
      "dialect.ddl_s" -> (if (etl) per(byKind.getOrElse("ddl", 0.0)) else 0.0),
      "dialect.dml_s" -> (if (etl) per(byKind.getOrElse("dml", 0.0)) else 0.0),
      "dialect.query_s" -> (if (etl) per(byKind.getOrElse("query", 0.0)) else 0.0),
      "dialect.statements" -> (if (etl) per(samples.size) else 0.0),
      "exec.jobs" -> per(sum(_.jobs)),
      "exec.stages" -> per(sum(_.stages)),
      "exec.tasks" -> per(sum(_.tasks)),
      "exec.driver_gap_s" -> per(wallS - Intervals.length(jobUnion) / 1e3),
      "exec.task_run_s" -> per(runS),
      "exec.task_cpu_s" -> per(sum(_.cpuNs) / 1e9),
      "exec.task_gc_s" -> per(sum(_.gcMs) / 1e3),
      "exec.task_wait_s" -> per(sum(_.waitMs) / 1e3),
      "exec.core_busy_ratio" -> runS / (cores * wallS),
      "exec.input_mb" -> per(sum(_.inputB) / mb),
      "exec.shuffle_read_mb" -> per(sum(_.shuffleReadB) / mb),
      "exec.shuffle_write_mb" -> per(sum(_.shuffleWriteB) / mb),
      "exec.spill_mb" -> per(sum(_.spillB) / mb),
      "exec.failed_tasks" -> per(sum(_.failedTasks)),
      "writes.output_mb" -> per(sum(_.outputB) / mb),
      "writes.rows" -> per(sum(_.outputRows)),
      "jvm.gc_s" -> gcS,
      "jvm.gc_count" -> gcCount,
      "jvm.jit_s" -> jitS)
  }

  /** workload → op → {build, analysis, optimization, planning, execute}
    * → Spark jobs. Span ids: 0 the region, then consecutive. */
  lazy val spans: Seq[Span] = {
    val out = mutable.ArrayBuffer(Span(0, -1, "region", "benchmark", startMs, endMs))
    var next = samples.map(_.id).maxOption.getOrElse(0) + 1
    def add(parent: Int, name: String, layer: String, s: Double, e: Double): Int = {
      val id = next; next += 1; out += Span(id, parent, name, layer, s, e); id
    }
    val jobsByGroup = jobs.groupBy(_._1)
    samples.foreach { smp =>
      out += Span(smp.id, 0, smp.op.name, "op", toMs(smp.t0), toMs(smp.t2))
      Seq("build" -> (smp.t0, smp.t1), "exec" -> (smp.t1, smp.t2)).foreach {
        case (phase, (a, b)) =>
          val g = Group(smp.id, phase)
          val pid = add(smp.id, if (phase == "build") "build" else "execute",
            if (phase == "build") buildLayer else "execute.driver", toMs(a), toMs(b))
          groups.get(g).foreach(_.phases.foreach { case (name, s, e) =>
            add(smp.id, name, "catalyst", s.toDouble, e.toDouble) })
          jobsByGroup.getOrElse(g, Nil).foreach { case (_, jid, s, e) =>
            add(pid, s"job $jid", "spark.jobs", s.toDouble, e.toDouble) }
      }
    }
    out.toSeq
  }

  /** Each layer's self time as a share of the region's wall time: its
    * spans minus the part of their interval that child layers cover. */
  lazy val selfShares: Map[String, Double] = {
    val wallMs = endMs - startMs
    val opSpans = spans.filter(_.layer == "op")
    val catalyst = spans.filter(_.layer == "catalyst").map(s => (s.startMs, s.endMs))
    val catalystSelf = Intervals.union(catalyst).map(Intervals.uncovered(_, jobUnion)).sum
    val inner = Intervals.union(catalyst ++ jobUnion)
    def selfOf(layer: String) = spans.filter(_.layer == layer)
      .map(s => Intervals.uncovered((s.startMs, s.endMs), inner)).sum
    val benchmark = Intervals.uncovered((startMs, endMs),
      Intervals.union(opSpans.map(s => (s.startMs, s.endMs))))
    Map(
      buildLayer -> selfOf(buildLayer),
      "execute.driver" -> selfOf("execute.driver"),
      "catalyst" -> catalystSelf,
      "spark.jobs" -> Intervals.length(jobUnion),
      "benchmark" -> benchmark).map { case (k, v) => k -> v / wallMs }
  }
}

object Spans {
  def write(path: String, spans: Seq[Span]): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(path), spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
}
