package perfbench

import graft.core.{GeoHash, Geodesy, KdTree}
import graft.pipeline.{ImageCodec, ImageRow, ImageTableGen, TilePipeline}

/** Per-layer metrics of the traced run. Engine, Catalyst, codegen and
  * driver figures are totals per pass of the workload; kernel figures come
  * from timed single-threaded replays of the public kernel functions on a
  * seeded sample.
  */
object Layers {

  /** Median; 0 for no samples (a layer the run did not exercise). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def engine(ctx: Ctx): Unit = {
    val t = ctx.traced.toSeq
    val p = math.max(1, ctx.tracedPasses).toDouble
    def per(f: TracedOp => Double): Double = t.map(f).sum / p
    ctx.layer("engine.jobs", per(_.stats.jobs))
    ctx.layer("engine.stages", per(_.stats.stages.size))
    ctx.layer("engine.tasks", per(_.stats.tasks))
    ctx.layer("engine.executor_run_s", per(_.stats.runMs / 1e3))
    ctx.layer("engine.executor_cpu_s", per(_.stats.cpuNs / 1e9))
    ctx.layer("engine.gc_s", per(_.stats.gcMs / 1e3))
    ctx.layer("engine.shuffle_write_mb", per(_.stats.shuffleBytes / 1e6))
    ctx.layer("engine.shuffle_records", per(_.stats.shuffleRecords))
    ctx.layer("engine.fetch_wait_s", per(_.stats.fetchWaitMs / 1e3))
    ctx.layer("engine.spill_mb", per(_.stats.spillBytes / 1e6))
    ctx.layer("engine.driver_gap_s",
      per(o => o.stats.driverGapMs(o.startMs, o.endMs) / 1e3))
    // skew of the widest stage, median over the operations of each kind,
    // worst kind
    val skew = t.groupBy(_.op.kind).values
      .map(ops => median(ops.map(_.stats.taskSkew))).toSeq
    ctx.layer("engine.task_skew", if (skew.isEmpty) 0.0 else skew.max)
    ctx.layer("catalyst.analysis_ms", per(_.stats.analysisMs))
    ctx.layer("catalyst.optimization_ms", per(_.stats.optimizationMs))
    ctx.layer("catalyst.planning_ms", per(_.stats.planningMs))
    ctx.layer("codegen.compile_ms", per(_.stats.compileNs / 1e6))
    ctx.layer("codegen.compilations", per(_.stats.compilations))
    ctx.layer("driver.construct_s", per(_.op.constructS))
    ctx.layer("driver.construct_jobs",
      per(o => o.stats.jobStartMs.count(_ <= o.constructEndMs)))
    ctx.layer("driver.action_s", per(_.op.actionS))
  }

  /** Median over `reps` repetitions of `f`, in microseconds per item. */
  private def usPer(items: Int, reps: Int = 3)(f: => Unit): Double =
    median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e3 / items
    })

  /** Flagship kernels on a seeded sample of images: synthesis, decode,
    * resample (process minus decode) and cell cover.
    */
  def pipelineKernels(ctx: Ctx, firstId: Long, n: Int): Unit = {
    val ids = (0 until n).map(i => firstId + i * 7919L)
    def synth(): Seq[ImageRow] =
      ids.map(ImageTableGen.makeRow(_, Images.ImageSize, Images.JpegFrac))
    var rows = synth() // also the warm-up
    ctx.layer("pipeline.synth_us_per_image", usPer(n) { rows = synth() })
    var sink = 0L
    def decodeAll(): Unit = rows.foreach(r => sink += ImageCodec.decode(r.bytes)._2)
    decodeAll()
    val decodeUs = usPer(n)(decodeAll())
    ctx.layer("pipeline.decode_us_per_image", decodeUs)
    val resampler = new TilePipeline.TileResampler(Images.Precision,
      Images.TileSize, "bicubic")
    var partials = 0L
    def processAll(): Unit = rows.foreach { r =>
      partials += resampler.process(r).size
    }
    processAll()
    val processUs = usPer(n)(processAll())
    ctx.layer("pipeline.resample_us_per_image", math.max(0.0, processUs - decodeUs))
    partials = 0L
    processAll()
    ctx.layer("pipeline.partials_per_image", partials.toDouble / n)
    val f = ImageTableGen.FootprintDeg
    var cells = 0L
    def coverAll(): Unit = rows.foreach { r =>
      cells += GeoHash.coverBox(r.lon, r.lat, r.lon + f, r.lat + f,
        Images.Precision).length
    }
    coverAll()
    ctx.layer("core.cover_us_per_image", usPer(n)(coverAll()))
    cells = 0L
    coverAll()
    ctx.layer("core.cover_cells_per_image", cells.toDouble / n)
    if (sink == 42) println() // keep the decode results live
  }

  /** KdTree build and k=8 query on seeded ECEF points of the join layout. */
  def kdtreeKernels(ctx: Ctx, seed: Long, nBuild: Int, nProbe: Int): Unit = {
    def ecef(stream: Long, i: Long): Array[Double] = {
      val (x, y) = JoinData.point(seed, stream, i)
      val (a, b, c) = Geodesy.llaToEcef(x, y, 0.0)
      Array(a, b, c)
    }
    val pts = (0 until nBuild).map(i => (ecef(11, i), i.toDouble, i.toLong))
    val probes = (0 until nProbe).map(i => ecef(12, i))
    var tree = KdTree.build(pts.iterator, 3)
    ctx.layer("core.kdtree_build_us_per_point",
      usPer(nBuild) { tree = KdTree.build(pts.iterator, 3) })
    var found = 0L
    def queryAll(): Unit = probes.foreach(q => found += tree.query(q, 8).length)
    queryAll()
    ctx.layer("core.kdtree_query_us_per_probe", usPer(nProbe)(queryAll()))
  }
}
