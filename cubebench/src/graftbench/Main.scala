package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cube.CubeRun
import graft.model.{Band, Collection, MaskDef}

/** Timed side of the cube-engine benchmark. The runner (`run.py`)
  * generates the inputs, launches this JVM once per run, and reads the
  * `@@ {...}` lines it prints: set-up marks, one line per timed operation,
  * the outputs the runner checks, failed checks, and with `--trace 1` the
  * per-layer counters. Output checks that need the engine's outputs run
  * here, outside the timed calls; the runner compares their results with
  * references of its own.
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def trace: Boolean = m.get("trace").contains("1")
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  /** Epoch of the seeded scenes and the 16-day period grid. */
  val Epoch: LocalDate = LocalDate.of(2020, 1, 1)
  val Ndvi = "10000. * ((B8A - B04) / (B8A + B04))"

  val collection: Collection = Collection(
    name = "bench", version = 1, grid = "G", compositeFunction = "LCF",
    temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
    bands = Seq(
      Band("B04", "red", "int16", -9999),
      Band("B8A", "nir", "int16", -9999),
      Band("QA", "quality", "uint8", 255),
      Band("NDVI", "ndvi", "int16", -9999, expression = Ndvi)),
    qualityBand = "QA",
    quicklook = Seq("B8A", "B04", "B04"))
  val mask: MaskDef = MaskDef(clearData = Seq(0L, 1L),
    notClearData = Seq(2L, 3L, 4L), nodata = 255L)

  def periodEnd(period: Int): LocalDate = Epoch.plusDays(16L * (period + 1) - 1)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Paths.get(o("work"))
    val cores = o.int("cores")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (o.trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseTap].getName)
    val spark = b.getOrCreate()
    Json.emit("ev" -> "session", "end_ms" -> System.currentTimeMillis())
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftFunctions.install(spark)
    val h = new Harness(spark, o)
    try o("workload") match {
      case "cube_build" => h.cubeBuild()
      case "query_suite" => h.querySuite()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      h.finish()
      spark.stop()
    }
  }
}

final class Harness(spark: SparkSession, o: Main.Opts) {
  import Main._

  private val work = Paths.get(o("work"))
  private val seconds = o.int("seconds")
  private val sc = spark.sparkContext
  private val spans = new Spans
  private val startMs = System.currentTimeMillis()
  private val jobs = new JobTap
  private val sampler = new Jvm.HeapSampler
  if (o.trace) sc.addSparkListener(jobs)

  /** (kind, start ms, end ms) of every timed operation. */
  private val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var rounds = 0
  private var loopStart = 0L
  private var loopEnd = 0L
  private var before: Array[Long] = Array.empty
  private var after: Array[Long] = Array.empty
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def span[T](name: String)(body: => T): T =
    if (o.trace) spans(name)(body) else body

  /** Run one timed operation; failures are reported, never dropped. */
  private def timed[T](kind: String, round: Int, fields: T => Seq[(String, Any)])
                      (body: => T): Option[T] = {
    val ms0 = System.currentTimeMillis()
    val cpu0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val r = try Right(span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    val cpu = (Jvm.cpuNs() - cpu0) / 1e9
    val ms1 = System.currentTimeMillis()
    ops += ((kind, ms0, ms1))
    val head = Seq("ev" -> "op", "kind" -> kind, "round" -> round, "s" -> s, "cpu_s" -> cpu)
    r match {
      case Right(v) =>
        Json.emit(head ++ Seq("ok" -> true) ++ fields(v): _*)
        Some(v)
      case Left(e) =>
        Json.emit(head ++ Seq("ok" -> false, "err" -> String.valueOf(e)): _*)
        None
    }
  }

  private def untimed[T](what: String)(body: => T): Option[T] =
    try {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"bench:$what")
      try Some(span(s"check:$what")(body)) finally sc.setJobDescription(prev)
    } catch {
      case NonFatal(e) =>
        Json.emit("ev" -> "check", "what" -> what, "ok" -> false,
          "err" -> String.valueOf(e))
        None
    }

  /** Set-up is over: everything from here on is the timed loop. */
  private def startLoop(): Unit = {
    Json.emit("ev" -> "setup", "end_ms" -> System.currentTimeMillis())
    if (o.trace) {
      org.apache.spark.graftbench.Bridge.drainListeners(sc)
      sampler.start()
    }
    before = counters()
    loopStart = System.currentTimeMillis()
  }

  /** Rounds until `seconds` have passed, and at least one. */
  private def loop(body: Int => Unit): Unit = {
    startLoop()
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (rounds == 0 || System.nanoTime() < deadline) {
      span("round")(body(rounds))
      rounds += 1
    }
    loopEnd = System.currentTimeMillis()
    if (o.trace) {
      org.apache.spark.graftbench.Bridge.drainListeners(sc)
      sampler.running = false
    }
    after = counters()
  }

  /** gc ms, gc count, jit ms, codegen ns, codegen compiles, then the
    * [[PhaseTap]] totals: analysis, optimization and planning ms, actions */
  private def counters(): Array[Long] =
    Array(Jvm.gcMs(), Jvm.gcCount(), Jvm.jitMs(), Jvm.codegenNs(),
      Jvm.codegenCompiles()) ++ PhaseTap.snapshot()

  // ---------------------------------------------------------------- cube

  private def runCube(scenes: String, out: String, end: LocalDate): CubeRun.RunResult =
    CubeRun.runTiles(spark, collection, mask, scenes, out, Epoch, end,
      blockSize = 256, publishCogs = true, quicklookRange = Some((0.0, 5000.0)))

  private def result(r: CubeRun.RunResult): Seq[(String, Any)] =
    Seq("planned" -> r.planned, "items" -> r.items, "blocks" -> r.blocks,
      "errors" -> r.errors)

  /** Per (tile, period start, band) sums of the published composite and
    * index pixels. */
  private def pixelSums(out: String): Seq[Map[String, Any]] = {
    def sums(dir: String) =
      spark.read.parquet(dir)
        .groupBy(col("tileId"), col("p_start").cast("string"), col("band"))
        .agg(sum(expr("aggregate(value, 0L, (a, x) -> a + x)")))
        .collect().toSeq
        .map(r => Map[String, Any]("tile" -> r.getString(0),
          "p_start" -> r.getString(1), "band" -> r.getString(2),
          "sum" -> r.getLong(3)))
    sums(s"$out/blocks") ++ sums(s"$out/index_blocks")
  }

  private def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Size of the run catalog: ledger, items and quarantine tables. */
  private def catalog(out: String): Seq[(String, Any)] = {
    val dirs = Seq("ledger", "items", "quarantine").map(d => Paths.get(out, d))
    val files = dirs.flatMap(filesUnder)
    val versions = dirs.filter(Files.exists(_)).map { d =>
      val s = Files.list(d)
      try s.iterator().asScala.count(Files.isDirectory(_)) finally s.close()
    }.sum
    Seq("catalog_bytes" -> files.map(Files.size).sum, "catalog_files" -> files.size,
      "catalog_versions" -> versions)
  }

  def cubeBuild(): Unit = {
    val scenes = o("scenes")
    val end = periodEnd(o.int("periods") - 1)
    // two warm-up builds: after one, the JIT still compiles much of the
    // engine during the next build, by an amount that varies from run to run
    span("setup:warmup") {
      for (i <- 0 until 2) {
        val out = work.resolve(s"out-warm-$i").toString
        untimed("warmup")(runCube(scenes, out, end))
        deleteTree(Paths.get(out))
      }
    }
    // (round, output dir, bytes the build left before its re-run)
    val built = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    loop { k =>
      val out = work.resolve(s"out-$k").toString
      timed("build", k, result)(runCube(scenes, out, end))
      val bytes = filesUnder(Paths.get(out)).map(Files.size).sum
      timed("noop", k, result)(runCube(scenes, out, end))
      built += ((k, out, bytes))
    }
    // checked after the loop, so the per-layer counters see only builds
    built.foreach { case (k, out, bytes) =>
      untimed("outputs") {
        val data = filesUnder(Paths.get(out, "data")).map(_.getFileName.toString)
        Json.emit(Seq("ev" -> "outputs", "round" -> k,
          "cogs" -> data.count(_.endsWith(".tif")),
          "pngs" -> data.count(_.endsWith(".png")),
          "out_bytes" -> bytes,
          "sums" -> pixelSums(out)) ++ catalog(out): _*)
      }
      deleteTree(Paths.get(out))
    }
    if (o.trace) kernels(scenes)
  }

  // ------------------------------------------------------------- queries

  /** Nine queries, as many as the run budget holds: the five evidence-debt
    * queries, three of the engine's Spark-side operators (the LCF composite
    * aggregate and quality repair from CubeOps, saturation propagation from
    * EngineOps) and one relational query (window functions). */
  private def suite: Seq[(String, String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    import graft.{queries => gq}
    Seq(
      ("Relational", gq.Relational.queries, Seq("s_window_funcs")),
      ("CubeOps", gq.CubeOps.queries, Seq("t2_lcf_composite", "p9_repair")),
      ("EngineOps", gq.EngineOps.queries, Seq("m4_saturation")),
      ("Pipeline", gq.Pipeline.queries, Seq("d_dedup_clusters", "v_ann_pq", "x_minhash_est")),
      ("Analytics", gq.Analytics.queries, Seq("x_rolling_dau", "x_rolling_dau_hll")))
      .flatMap { case (m, qs, names) => names.map(n => (m, n, qs(n))) }
  }

  def querySuite(): Unit = {
    val tables = o("tables")
    val results = Paths.get(o("results"))
    val qs = suite
    // set-up: one sweep that writes every result for the oracle check
    span("setup:warmup") {
      qs.foreach { case (_, name, f) =>
        untimed(name) {
          f(spark, tables).coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(name).toString)
        }
      }
    }
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(work.resolve("oracles.json"), Json.obj(
      qs.flatMap { case (_, n, _) => oracles.get(n).map(n -> _) }))
    loop { k =>
      val order = new scala.util.Random(o.int("seed") * 1000L + k).shuffle(qs)
      order.foreach { case (m, name, f) =>
        val prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"query:$name")
        try timed("query", k, (_: Unit) => Seq("name" -> name, "module" -> m)) {
          f(spark, tables).write.format("noop").mode("overwrite").save()
        } finally sc.setJobDescription(prev)
      }
    }
  }

  // ------------------------------------------------------------- kernels

  /** Single-threaded throughput of the public kernels on this run's own
    * scenes. */
  private def kernels(sceneDir: String): Unit = span("kernels") {
    import graft.sources.GeoTiff
    import graft.operators.Composite
    import graft.functions.BandExprParser
    val files = filesUnder(Paths.get(sceneDir)).map(_.toString).sorted
    val tile0 = files.filter(_.contains("_T0001_"))
    def band(b: String) = tile0.filter(_.endsWith(s"_$b.tif"))
    // decode: every 256-px tile of the first tile's scenes
    def decodeAll(fs: Seq[String]): (Seq[Array[Int]], Long) = {
      var bytes = 0L
      val out = fs.map { f =>
        val raw = Files.readAllBytes(Paths.get(f))
        val info = GeoTiff.readInfo(raw)
        val a = GeoTiff.readWindow(raw, info, 0, 0, info.height, info.width)
        bytes += a.length.toLong * info.bitsPerSample / 8
        a
      }
      (out, bytes)
    }
    def rate(minS: Double)(body: => Double): Double = {
      var work = 0.0
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < minS) work += body
      work / ((System.nanoTime() - t0) / 1e9)
    }
    decodeAll(tile0.take(3))
    extra("sources.geotiff_decode_mb_s") = rate(1.0)(decodeAll(tile0)._2 / 1e6)
    val red = decodeAll(band("B04"))._1
    val nir = decodeAll(band("B8A"))._1
    val qa = decodeAll(band("QA"))._1
    val px = red.head.length
    val side = math.sqrt(px.toDouble).toInt
    extra("sources.geotiff_encode_mb_s") = rate(1.0) {
      GeoTiff.write(red.head, side, side, tileSize = 256, nodata = -9999,
        deflate = true).length
      px * 2 / 1e6
    }
    val depth = red.size
    val obs = red.indices.map(i => Composite.Obs(1.0, i, 0, red(i), qa(i)))
    extra("operators.composite_mpx_s") = rate(1.0) {
      Composite.compose(obs, mask, -9999).value.length
      px * depth / 1e6
    }
    val mos = red.indices.map(i => (i, 0, red(i)))
    extra("operators.mosaic_mpx_s") = rate(1.0) {
      Composite.mosaic(mos, -9999, combined = true).value.length
      px * depth / 1e6
    }
    val f = BandExprParser.compileIndexed(BandExprParser.parse(Ndvi), Seq("B04", "B8A"))
    val (r0, n0) = (red.head, nir.head)
    extra("functions.ndvi_mpx_s") = rate(1.0) {
      val args = new Array[Double](2)
      var acc = 0.0
      var i = 0
      while (i < px) {
        args(0) = r0(i); args(1) = n0(i)
        acc += f(args)
        i += 1
      }
      if (acc == 42.0) System.err.println("") // keeps the loop from being elided
      px / 1e6
    }
  }

  // -------------------------------------------------------------- finish

  def finish(): Unit = {
    if (!o.trace || rounds == 0) return
    val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
    val n = rounds.toDouble
    val all = jobs.within(loopStart, loopEnd).filter(j => j.end >= 0)
    val timedJobs = all.filter(j => ops.exists(op => j.start >= op._2 && j.start <= op._3))
    val iv = (js: Seq[JobRec]) => js.map(j => (j.start, j.end))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val stageKeys = Seq("plan" -> "cube:plan", "decode_bucket" -> "cube:decode+bucket",
      "quarantine" -> "cube:quarantine", "composite_blocks" -> "cube:composite+publish:blocks",
      "publish_index" -> "cube:publish:index", "publish_items" -> "cube:publish:items",
      "publish_quicklook" -> "cube:publish:quicklook", "publish_cogs" -> "cube:publish:cogs",
      "publish_ledger" -> "cube:publish:ledger", "readback" -> "cube:readback")
    stageKeys.foreach { case (key, desc) =>
      val js = timedJobs.filter(_.desc == desc)
      m(s"cube.$key.wall_s") = Intervals.union(iv(js)) / 1e3 / n
      m(s"cube.$key.jobs") = js.size / n
      m(s"cube.$key.task_s") = js.map(_.taskMs).sum / 1e3 / n
    }
    val cubeOps = ops.filter(op => Set("build", "noop")(op._1))
    m("cube.gap_s") = cubeOps.map { case (_, s, e) =>
      (e - s) - Intervals.covered(s, e, iv(timedJobs)) }.sum / 1e3 / n
    val cubeJobs = timedJobs.filter(_.desc.startsWith("cube:"))
    m("cube.shuffle_bytes") = cubeJobs.map(_.shuffleBytes).sum / n
    m("cube.spill_bytes") = cubeJobs.map(_.spillBytes).sum / n
    m("spark.analysis_s") = d(5) / 1e3 / n
    m("spark.optimization_s") = d(6) / 1e3 / n
    m("spark.planning_s") = d(7) / 1e3 / n
    m("spark.actions") = d(8) / n
    m("spark.codegen_compile_s") = d(3) / 1e9 / n
    m("spark.codegen_compiles") = d(4) / n
    m("spark.job_s") = timedJobs.map(j => j.end - j.start).sum / 1e3 / n
    m("spark.jobs") = timedJobs.size / n
    m("spark.tasks") = timedJobs.map(_.tasks).sum / n
    m("spark.shuffle_bytes") = timedJobs.map(_.shuffleBytes).sum / n
    m("spark.gap_s") = ops.map { case (_, s, e) =>
      (e - s) - Intervals.covered(s, e, iv(timedJobs)) }.sum / 1e3 / n
    m("jvm.gc_s") = d(0) / 1e3 / n
    m("jvm.gc_count") = d(1) / n
    m("jvm.jit_s") = d(2) / 1e3 / n
    m("jvm.peak_heap_mb") = sampler.peak.get / (1024.0 * 1024.0)
    m ++= extra
    Json.emit("ev" -> "layers", "rounds" -> rounds, "m" -> m.toMap)
    // spans: the harness's own, plus one per Spark job of the timed loop
    val byOp = timedJobs.map { j =>
      val parent = spans.all.filter(s => s.name != "round" && !s.name.startsWith("setup") &&
        j.start >= s.start && j.start <= s.end).sortBy(s => s.end - s.start).headOption
      Span(-1, parent.map(_.id).getOrElse(0), s"job:${j.desc}", j.start, j.end)
    }
    val all2 = Span(0, -1, "run", startMs, System.currentTimeMillis()) +: (spans.all ++ byOp)
    Files.writeString(Paths.get(o("spans")), all2.map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end))).mkString("[", ",\n", "]"))
  }
}
