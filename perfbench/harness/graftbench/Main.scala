package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's JVM side. It drives the program only through its
  * public entry points (SparkEntry.queries, IndexStore.primeIfMissing,
  * Streams.drainFloor, the TemporalVault façade), records every call's
  * wall time, result size and fingerprint, and writes one JSON result
  * file. It judges nothing: perfbench/run.py checks the outputs,
  * counts failures and computes the metrics.
  *
  *   graftbench.Main --workload catalog_cold|catalog_reopen|vault_rw|prime|record
  *     --corpus DIR --work DIR --out FILE --cores N --trace 0|1 [--run-id ID]
  *     [--warehouse DIR] [--keys FILE] [--passes DIR,DIR] [--warm-corpus DIR]
  *     [--calls FILE] [--warm-calls FILE] [--inject throw:KEY,wrong:KEY] [--dump DIR]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val cores = opt("cores").toInt
    val traced = opt.get("trace").contains("1")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opt.getOrElse("warehouse", s"$work/warehouse"))
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = uptime()
    val trace = new Trace(spark, traced, opt.getOrElse("run-id", workload))
    val gc0 = gcTotals()
    val body: Map[String, Any] = workload match {
      case "catalog_cold" | "catalog_reopen" | "prime" =>
        new Catalog(spark, trace, opt).run(workload)
      case "vault_rw" => new VaultRw(spark, trace, opt).run()
      case "record" => Catalog.record(spark, opt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace.drain()
    val gc1 = gcTotals()
    val out = Map[String, Any](
      "workload" -> workload,
      "session_start_s" -> sessionStart,
      "jvm" -> Map("gc_s" -> (gc1._1 - gc0._1) / 1e3, "gc_count" -> (gc1._2 - gc0._2),
        "jit_s" -> jitMs() / 1e3,
        "peak_rss_mb" -> vmHwmKb() / 1024.0),
      "versions" -> Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "spans" -> (if (traced) trace.dump else Nil)) ++ body
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.write(out))
    spark.stop()
  }

  /** Seconds since the JVM started. */
  def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Bytes and regular-file count under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (dir.length, 1L)
    else dir.listFiles.map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Materializes every row and column of `df` (the timed action) and
    * returns the rows with the action's planning time in ms. */
  def collect(df: DataFrame): (Array[Row], Long) = {
    val rows = df.collect()
    (rows, df.queryExecution.tracker.phases.values.map(_.durationMs).sum)
  }

  /** (steal, idle, total) jiffies of all CPUs from /proc/stat. On a
    * virtual machine, steal is time the host ran something else while
    * this guest wanted to run; it slows every wall time measured. */
  def cpuJiffies(): (Long, Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
      (xs(7), xs(3) + xs(4), xs.take(8).sum)
    } finally f.close()
  }

  /** Steal, idle and total jiffies since `from`: their shares over the
    * timed region are printed with every result. */
  def cpuSince(from: (Long, Long, Long)): Map[String, Long] = {
    val (s1, i1, t1) = cpuJiffies()
    Map("steal_j" -> (s1 - from._1), "idle_j" -> (i1 - from._2), "total_j" -> (t1 - from._3))
  }

  def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)
}

/** The catalog workloads: a set-up that primes the index artifacts
  * (catalog_cold: a fresh warehouse, so all of them are built) or finds
  * them all present (catalog_reopen), then one timed pass over the
  * selected query keys per corpus of `--passes`, each in its own order.
  * catalog_reopen's corpora are copies of one corpus at other paths:
  * session caches and index artifacts are per corpus directory, so each
  * pass pays the cold artifact loads of a new session. */
final class Catalog(spark: SparkSession, trace: Trace, opt: Map[String, String]) {
  private val corpus = opt("corpus")
  private val passes = opt.get("passes").fold(Seq(corpus))(_.split(",").toSeq)
  private val warehouse =
    new File(new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
  private val injected: Map[String, String] = opt.get("inject").toSeq
    .flatMap(_.split(",")).filter(_.contains(":"))
    .map { s => val Array(kind, key) = s.split(":", 2); key -> kind }.toMap

  private def tables(): Set[String] =
    Option(warehouse.listFiles).map(_.filter(_.isDirectory).map(_.getName).toSet).getOrElse(Set.empty)

  def run(workload: String): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    // `--keys FILE` holds one line per pass: that pass's key order
    val orders: Seq[Seq[String]] =
      if (opt("keys") == "all") passes.map(_ => queries.keys.toSeq.sorted)
      else scala.io.Source.fromFile(opt("keys")).getLines().map(_.trim).filter(_.nonEmpty)
        .map(_.split(",").toSeq).toSeq
    require(orders.length == passes.length, s"${orders.length} key orders for ${passes.length} passes")
    val keys = orders.head
    val warmCorpus = opt.get("warm-corpus")
    val primeT0 = System.nanoTime()
    val primed = trace.span("prime")(graft.sources.IndexStore.primeIfMissing(spark, corpus))
    val primeS = (System.nanoTime() - primeT0) / 1e9
    val primeSpan = trace.last("prime").get
    val (artifactBytes, _) = Main.du(warehouse)
    val warmT0 = System.nanoTime()
    if (workload == "prime")
      (warmCorpus.toSeq ++ passes.tail).foreach(graft.sources.IndexStore.primeIfMissing(spark, _))
    trace.span("warmup") {
      // the same keys in the first pass's order over another copy of the corpus,
      // so the timed passes start past the JVM's first compilations of
      // these code paths whatever the seed's order
      warmCorpus.foreach(w => keys.foreach(k => queries(k)(spark, w).collect()))
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = Main.uptime()
    val before = tables()
    val passT0 = System.nanoTime()
    val jiffies0 = Main.cpuJiffies()
    val timed = for ((dir, pass) <- passes.zipWithIndex; key <- orders(pass)) yield {
      var rows = -1L
      var fp = ""
      var error: String = null
      var buildS, actionS = 0.0
      var planMs = 0L
      val span = trace.span(s"key:$key") {
        try {
          val fn = queries.getOrElse(key, throw new NoSuchElementException(s"no query key $key"))
          val t0 = System.nanoTime()
          val df = trace.span("build") {
            if (injected.get(key).contains("throw")) throw new IllegalStateException("injected failure")
            fn(spark, dir)
          }
          val t1 = System.nanoTime()
          val (collected, plan) = trace.span("action")(Main.collect(df))
          val t2 = System.nanoTime()
          trace.addPlanMs(trace.last("action").get, plan)
          buildS = (t1 - t0) / 1e9
          actionS = (t2 - t1) / 1e9
          planMs = plan
          val out = if (injected.get(key).contains("wrong")) collected.drop(1) else collected
          rows = out.length.toLong
          fp = Fingerprint.of(out)
        } catch { case e: Throwable => error = Main.errorText(e) }
        trace.last(s"key:$key").get
      }
      (span, Map[String, Any]("key" -> key, "pass" -> pass, "error" -> error, "rows" -> rows,
        "fp" -> fp, "wall_s" -> (buildS + actionS), "build_s" -> buildS, "plan_ms" -> planMs))
    }
    val passS = (System.nanoTime() - passT0) / 1e9
    val cpuJ = Main.cpuSince(jiffies0)
    val written = (tables() -- before).toSeq.sorted
    // the drain-floor probe runs after the timed passes, in the traced run only
    val drainFloorS: Any =
      if (!trace.enabled || workload == "prime") null
      else {
        val t0 = System.nanoTime()
        trace.span("drain_floor") {
          graft.streaming.Streams.drainFloor(spark, corpus, stateRows = 8 * 65536L).collect()
        }
        (System.nanoTime() - t0) / 1e9
      }
    trace.drain()
    val records = timed.map { case (span, r) =>
      if (!trace.enabled) r
      else {
        val c = trace.totals(span)
        r ++ Map("jobs" -> c.jobs, "stages" -> c.stages, "task_s" -> c.taskNs / 1e9,
          "shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite), "spill_bytes" -> c.spill)
      }
    }
    val prime = trace.totals(primeSpan)
    Map(
      "setup_s" -> setupS, "prime_s" -> primeS, "warmup_s" -> warmS, "pass_s" -> passS,
      "passes" -> passes.length, "cpu_jiffies" -> cpuJ,
      "artifacts_built" -> primed.length, "artifact_bytes" -> artifactBytes,
      "writethrough" -> written, "drain_floor_s" -> drainFloorS,
      "prime_counters" -> Map("jobs" -> prime.jobs, "task_s" -> prime.taskNs / 1e9,
        "shuffle_bytes" -> (prime.shuffleRead + prime.shuffleWrite), "spill_bytes" -> prime.spill),
      "keys" -> records)
  }
}

object Catalog {
  /** Fingerprints of a graft.Verify dump: `--dump DIR` holds one parquet
    * directory per query key. These become the expected values. */
  def record(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val dump = new File(opt("dump"))
    val keys = dump.listFiles.filter(f => f.isDirectory && graft.SparkEntry.queries.contains(f.getName))
      .map(_.getName).sorted
    Map("expected" -> keys.map { k =>
      val rows = spark.read.parquet(new File(dump, k).getPath).collect()
      k -> Map("rows" -> rows.length, "fp" -> Fingerprint.of(rows))
    }.toMap)
  }
}

/** The vault workload: seed a fresh vault with the corpus's events, then
  * run the generated call sequence (perfbench/run.py writes it to
  * `--calls`, one tab-separated call per line) through the façade. */
final class VaultRw(spark: SparkSession, trace: Trace, opt: Map[String, String]) {
  import graft.temporal.TemporalVault
  private val corpus = opt("corpus")
  private val work = opt("work")
  private val BatchSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")

  private def newVault(root: String) =
    new TemporalVault(spark, root, key = "user_id", ts = "ts", tie = "event_id")

  /** A deterministic 50-row batch: ids from the call line, ts one second
    * apart from the call's clock, fresh event ids. */
  private def batch(clock: String, ids: Seq[Long], firstEventId: Long, seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    val t0 = java.sql.Timestamp.valueOf(clock).getTime
    val rows = ids.zipWithIndex.map { case (id, i) =>
      Row(firstEventId + i, new java.sql.Timestamp(t0 + i * 1000L), id,
        EventTypes(rnd.nextInt(EventTypes.length)), math.round(rnd.nextDouble() * 1e6) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    spark.createDataFrame(rows.asJava, BatchSchema)
  }

  private def readCalls(file: String): Vector[Array[String]] =
    scala.io.Source.fromFile(file).getLines().map(_.split("\t", -1)).toVector

  /** Runs one generated call and materializes its result; returns the
    * rows, the rows a rollback reports as affected, and the planning ms
    * of the call's action. */
  private def exec(vault: TemporalVault, c: Array[String]): (Array[Row], Long, Long) = {
    def read(df: DataFrame): (Array[Row], Long, Long) = {
      val (r, p) = Main.collect(df)
      (r, 0L, p)
    }
    c(0) match {
      case "point" => read(vault.query(c(1), c(2)))
      case "state" => read(vault.queryCached(c(1)))
      case "history" => read(vault.history(c(1)))
      case "compare" => read(vault.compare(c(1), c(2), c(3), c(4).split(",").toSeq))
      case "append" =>
        vault.append(batch(c(1), c(2).split(",").map(_.toLong).toSeq, c(3).toLong, c(4).toLong))
        (Array.empty, 0L, 0L)
      case "rollback" =>
        val (r, _, p) = read(vault.rollback(c(1), c(2)))
        (r, r.map(_.getAs[Long]("affected_records")).sum, p)
      case "snapshot" =>
        vault.writeSnapshot(c(1))
        (Array.empty, 0L, 0L)
    }
  }

  def run(): Map[String, Any] = {
    val calls = readCalls(opt("calls"))
    val events = graft.sources.Tables.events(spark, corpus)
    // warm-up: a second generated sequence on a root of its own, seeded
    // the same way, so seeding and the timed calls start past the JVM's
    // first compilations of the façade's paths
    val warmT0 = System.nanoTime()
    trace.span("warmup") {
      val w = newVault(s"$work/warm")
      w.append(events)
      readCalls(opt("warm-calls")).filter(_.head != "oracle").foreach(c => exec(w, c))
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val root = s"$work/vault"
    val seedT0 = System.nanoTime()
    trace.span("seed")(newVault(root).append(events))
    val seedS = (System.nanoTime() - seedT0) / 1e9
    val vault = newVault(root)
    val seededRows = events.count()
    val setupS = Main.uptime()
    val loopT0 = System.nanoTime()
    val jiffies0 = Main.cpuJiffies()
    val recheck = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var recheckNs = 0L
    val records = calls.zipWithIndex.filter(_._1.head != "oracle").map { case (c, i) =>
      val op = c(0)
      var rows = -1L
      var fp = ""
      var error: String = null
      var affected = 0L
      var planMs = 0L
      val t0 = System.nanoTime()
      trace.span(s"vault:$op") {
        try {
          val (out, a, p) = exec(vault, c)
          affected = a
          planMs = p
          rows = out.length.toLong
          fp = Fingerprint.of(out)
        } catch { case e: Throwable => error = Main.errorText(e) }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // outside the timed span: re-check a sample of cached reads
      // against an uncached read of the same timestamp
      if (error == null && op == "state" && c.lift(2).contains("recheck")) {
        val r0 = System.nanoTime()
        recheck += ((i, c(1), Fingerprint.of(vault.query(c(1)).collect())))
        recheckNs += System.nanoTime() - r0
      }
      trace.last(s"vault:$op").foreach(s => trace.addPlanMs(s, planMs))
      Map[String, Any]("i" -> i, "op" -> op, "error" -> error, "rows" -> rows, "fp" -> fp,
        "wall_s" -> wall, "affected" -> affected, "plan_ms" -> planMs)
    }
    val loopS = (System.nanoTime() - loopT0 - recheckNs) / 1e9
    val cpuJ = Main.cpuSince(jiffies0)
    trace.drain()
    val opCounters = if (!trace.enabled) Map.empty[String, Counters]
      else records.map(_("op").toString).distinct.map { op =>
        val total = new Counters
        // every span named vault:<op>, not only the last one
        trace.dump.filter(_("name") == s"vault:$op").foreach { d =>
          total.jobs += d("jobs").asInstanceOf[Long]
          total.taskNs += (d("task_s").asInstanceOf[Double] * 1e9).toLong
        }
        op -> total
      }.toMap
    val stats = vault.cacheStats
    val (logBytes, logFiles) = Main.du(new File(s"$root/log"))
    val (rootBytes, _) = Main.du(new File(root))
    // oracle reads, outside timing: the uncached and cached state at
    // each oracle timestamp, written next to the log for DuckDB
    val oracle = calls.filter(_.head == "oracle").zipWithIndex.map { case (c, j) =>
      vault.query(c(1)).coalesce(1).write.parquet(s"$work/oracle/query_$j")
      vault.queryCached(c(1)).coalesce(1).write.parquet(s"$work/oracle/cached_$j")
      Map("at" -> c(1), "query" -> s"$work/oracle/query_$j", "cached" -> s"$work/oracle/cached_$j")
    }
    Map(
      "setup_s" -> setupS, "warmup_s" -> warmS, "seed_s" -> seedS, "loop_s" -> loopS,
      "cpu_jiffies" -> cpuJ,
      "seeded_rows" -> seededRows, "log_dir" -> s"$root/log",
      "calls" -> records,
      "recheck" -> recheck.map { case (i, at, f) => Map("i" -> i, "at" -> at, "fp" -> f) },
      "ops" -> opCounters.map { case (op, c) =>
        op -> Map("jobs" -> c.jobs, "task_s" -> c.taskNs / 1e9) },
      "cache" -> stats, "log_files" -> logFiles, "log_bytes" -> logBytes,
      "root_bytes" -> rootBytes, "oracle" -> oracle)
  }
}
