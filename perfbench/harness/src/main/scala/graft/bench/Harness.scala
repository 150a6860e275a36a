package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Cli, SparkEntry, Tables}
import graft.mr.MapReduce

/** One benchmark run in one fresh Spark JVM: set up a session and make
  * one "cold" pass over the calls in it, the JVM's first. Then, until
  * `--seconds` have passed (and at least `--min-rounds` times), open a
  * fresh session on the now warm JVM and make a "first" pass and a
  * "repeat" pass in it. Then write a JSON result file. A closed loop with
  * one client: each call starts after the previous one returns.
  *
  * Calls are either `SparkEntry.queries` names (built, then written as
  * parquet under `--out`) or the reference's verbs `dfs_write`, `dfs_read`,
  * `mr_pipe` and `mr_closure` over the text file `--dfs-src`.
  *
  * Usage: Harness --workload W --data DIR --out DIR --calls a,b,...
  *   --seconds S --min-rounds N --cores N --trace 0|1 --result FILE
  *   --local-dir DIR [--dfs-src FILE --mapper CMD --reducer CMD]
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val data = arg("data")
    val out = arg("out")
    val calls = arg("calls").split(',').toSeq
    val cores = arg("cores")
    val traced = arg("trace") == "1"
    val spans = new Spans
    val root = spans.open(arg("workload"), "workload", -1, -1)

    val setup = spans.open("setup", "setup", root.id, -1)
    val sessionSpan = spans.open("session.build", "session", setup.id, -1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.wholeStage", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", arg("local-dir"))
      .config("spark.sql.warehouse.dir", s"${arg("local-dir")}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    spans.close(sessionSpan)
    val tablesSpan = spans.open("tables.resolve", "tables", setup.id, -1)
    Tables.names.foreach(t => Tables(spark, data, t))
    spans.close(tablesSpan)
    spans.close(setup)
    val now = java.time.Instant.now()
    val readyEpoch = now.getEpochSecond + now.getNano / 1e9

    val trace = if (traced) Some(new Trace(spans)) else None
    trace.foreach(sc.addSparkListener)
    // query-execution and streaming listeners belong to a session
    def attach(s: SparkSession): Unit = trace.foreach { t =>
      s.listenerManager.register(t)
      s.streams.addListener(t.streams)
    }
    attach(spark)

    System.setProperty("graft.dfs", s"$out/dfs")
    lazy val parts = sc.defaultParallelism.min(8)
    def leaf[T](name: String, kind: String, parent: Span)(f: => T): T = {
      val s = spans.open(name, kind, parent.id, parent.pass)
      if (traced) sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try f
      finally {
        spans.close(s)
        if (traced) sc.setLocalProperty(Trace.SpanKey, null)
      }
    }
    def runCall(spark: SparkSession, name: String, call: Span): Unit =
      name match {
        case "dfs_write" => leaf("mr.write", "verb", call) {
          Cli.run(spark, Array("-w", arg("dfs-src"), "corpus")) }
        case "dfs_read" => leaf("mr.read", "verb", call) {
          Cli.run(spark, Array("-r", "corpus", s"$out/read.txt")) }
        case "mr_pipe" => leaf("mr.pipe", "verb", call) {
          Cli.run(spark, Array("-mr", arg("mapper"), arg("reducer"), "corpus")) }
        case "mr_closure" => leaf("mr.closure", "verb", call) {
          MapReduce.mapReduce(MapReduce.read(spark, s"$out/dfs/corpus"),
              (line: String) => line.split(' ').iterator.filter(_.nonEmpty)
                .map(w => s"$w,1"),
              (word: String, lines: Iterator[String]) =>
                Iterator(s"$word,${lines.size}"),
              parts)
            .write.mode("overwrite").text(s"$out/dfs/corpus_closure") }
        case entry =>
          val df = leaf("queries.build", "build", call) {
            SparkEntry.queries(entry)(spark, data) }
          leaf("queries.action", "action", call) {
            df.write.mode("overwrite").parquet(s"$out/entries/$entry") }
      }

    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME
    val results = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    def runPass(s: SparkSession, p: Int, kind: String): Unit = {
      val compiles0 = codegen.getCount
      val compileNs0 = CodeGenerator.compileTime
      val pass = spans.open(kind, "pass", root.id, p)
      calls.foreach { name =>
        val call = spans.open(name, "call", pass.id, p)
        val err = try { runCall(s, name, call); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
            .getOrElse("").takeWhile(_ != '\n').take(200)}") }
        spans.close(call)
        results += Map("pass" -> p, "name" -> name, "seconds" -> call.seconds,
          "span" -> call.id, "error" -> err.orNull)
      }
      spans.close(pass)
      trace.foreach(_.drain(sc, s"pass-$p"))
      val storage = sc.getRDDStorageInfo
      passes += Map("pass" -> p, "kind" -> kind, "seconds" -> pass.seconds,
        "span" -> pass.id,
        "codegen.compiles" -> (codegen.getCount - compiles0),
        "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
        "caches.rdds" -> storage.length,
        "caches.storage_mb" ->
          storage.map(s => s.memSize + s.diskSize).sum / Trace.MB)
    }

    // A new session on the warm JVM: no data left cached, empty
    // session-keyed caches (graft's caches key by session), tables resolved
    // as in set-up. Its first pass pays the session's cache fills but not
    // the JVM's class loading, JIT warm-up or codegen of the cold pass.
    val freshSeconds = Seq.newBuilder[Double]
    def freshSession(): SparkSession = {
      val span = spans.open("session.fresh", "fresh", root.id, -1)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val s = spark.newSession()
      attach(s)
      Tables.names.foreach(t => Tables(s, data, t))
      spans.close(span)
      freshSeconds += span.seconds
      s
    }

    runPass(spark, 0, "cold")
    val t0 = System.nanoTime()
    var p = 1
    var rounds = 0
    while (rounds < arg("min-rounds").toInt ||
        (System.nanoTime() - t0) / 1e9 < arg("seconds").toDouble) {
      val s = freshSession()
      runPass(s, p, "first")
      runPass(s, p + 1, "repeat")
      p += 2
      rounds += 1
    }
    // streaming progress travels on its own listener queue
    if (traced) Thread.sleep(500)
    spans.close(root)

    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Trace.MB
    }.min
    val result = Map(
      "workload" -> arg("workload"),
      "ready_epoch" -> readyEpoch,
      "session.build_s" -> sessionSpan.seconds,
      "tables.resolve_s" -> tablesSpan.seconds,
      "session.fresh_s" -> freshSeconds.result(),
      "retained_heap_mb" -> heapMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Trace.MB,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "calib" -> calibration(),
      "calls" -> results.result(),
      "passes" -> passes.result(),
      "layers" -> trace.map(_.perCall.map { case (k, v) => k.toString -> v })
        .getOrElse(Map.empty),
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => calls.contains(kv._1)),
      "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "kind" -> s.kind, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds)))
    Files.writeString(Paths.get(arg("result")), Json(result))
    spark.stop()
  }

  /** The fixed single-thread CPU loop `graft.Bench` records as `calib`, so
    * results from different boxes can be told apart.
    */
  private def calibration(): Double = {
    val buf = Array.tabulate(1 << 16)(i => (i * 2654435761L).toByte)
    var h = 0L
    val t0 = System.nanoTime()
    var r = 0
    while (r < 400) {
      var i = 0
      while (i < buf.length) { h = h * 31 + buf(i); i += 1 }
      r += 1
    }
    if (h == 42L) System.err.println("calib sink")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
