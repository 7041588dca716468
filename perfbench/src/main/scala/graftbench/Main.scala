package graftbench

/** One benchmark run in one JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   [--perturb none|sink|row]`.
  *
  * Prints human-readable lines, then one line `RESULT {json}` with the
  * metrics, the number of operations attempted and failed, the failure
  * messages, and the sink directories still to be compared with the DuckDB
  * oracle (done by the caller, `run.py`). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, perturb: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("perturb", "none"))
  }

  /** Timed operations per run, at least, so that the median drops one
    * outlier. */
  val MinOps = 3

  /** Timed operations of a run: `seconds` of operations at the workload's
    * nominal operation time. The count does not depend on how fast this
    * run goes: operations still speed up through a run (JIT compilation),
    * so a count that fell with the host's speed would also move the median
    * to an earlier, slower operation. */
  def opsFor(seconds: Double, wl: Workload): Int =
    math.max(MinOps, math.round(seconds / wl.nominalOpS).toInt)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val spark = Session.create(args.work)
    val result =
      try {
        val probes = new Probes(spark)
        if (args.trace) traced(spark, args, probes) else timed(spark, args, probes, t0)
      } finally spark.stop()
    println("RESULT " + result)
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `oracleDirs`: sink directories with the queries whose outputs the
    * DuckDB oracle still has to check there. */
  private def result(metrics: Seq[(String, Double)], gate: Gate,
      oracleDirs: Seq[(String, Seq[String])], extra: Seq[(String, String)]): String = {
    def strs(xs: Seq[String]) = xs.map(Json.str).mkString("[", ",", "]")
    Json.obj(Seq(
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> gate.attempted.toString,
      "failed" -> gate.failedIds.size.toString,
      "failed_ids" -> strs(gate.failedIds),
      "failures" -> strs(gate.messages),
      "oracle_dirs" -> Json.obj(oracleDirs.map { case (d, qs) => d -> strs(qs) })) ++ extra)
  }

  /** Timed run: set up (session, staging, one warm-up operation), then
    * [[opsFor]] operations in a closed loop. Every operation's outputs are
    * checked after it, untimed. */
  def timed(spark: org.apache.spark.sql.SparkSession, args: Args, probes: Probes,
      t0: Long): String = {
    val wl = Workloads(args.workload, spark, args.work, args.seed, args.perturb)
    val gate = new Gate
    val sessionS = elapsed(t0)
    wl.stage()
    val stagedS = elapsed(t0)
    val warmDir = s"${args.work}/ops/warmup"
    val warm = gate.run(warmDir)(wl.warmUp(warmDir))
    val setupS = elapsed(t0)
    System.err.println(f"[perfbench] session $sessionS%.2f s, staged at $stagedS%.2f s, " +
      f"warm-up operation done at $setupS%.2f s")
    wl.prepareReference()
    if (warm.isDefined) gate.check(warmDir)(wl.check(warmDir))

    val dirs = collection.mutable.ArrayBuffer(warmDir)
    val walls = collection.mutable.ArrayBuffer.empty[Double]
    val amps = collection.mutable.ArrayBuffer.empty[Double]
    val peaks = collection.mutable.ArrayBuffer.empty[Double]
    var firstBase = Double.NaN
    var stop = false
    val nOps = opsFor(args.seconds, wl)
    while (!stop && walls.size < nOps) {
      val out = s"${args.work}/ops/op-${dirs.size}"
      dirs += out
      // start each operation from a collected heap, so that cached blocks of
      // unreachable datasets (released by Spark's cleaner after a GC) and
      // garbage left by the previous operation do not carry over
      System.gc()
      Thread.sleep(300)
      probes.resetPeak()
      // blocks that earlier timed operations left cached (the program can
      // retain some across queries) do not count in this operation's peak,
      // so every operation is measured from the level the first one found
      val base = probes.cachedMb
      if (firstBase.isNaN) firstBase = base
      gate.run(out)(wl.op(out)) match {
        case Some(w) =>
          walls += w
          peaks += probes.peakMb - (base - firstBase)
          amps += Inputs.bytes(out).toDouble / wl.inputBytes
          gate.check(out)(wl.check(out))
        case None => stop = true // a failing workload ends the loop
      }
    }
    System.err.println(f"[perfbench] ${wl.name}: rows/op=${wl.rowsPerOp} " +
      f"input=${wl.inputBytes / 1e6}%.3f MB setup=$setupS%.2f s " +
      s"op walls=${walls.map(w => f"$w%.2f").mkString(",")} " +
      s"cache peaks MB=${peaks.map(p => f"$p%.2f").mkString(",")}")
    val metrics =
      if (walls.isEmpty) Nil
      else Seq(
        "setup_s" -> setupS,
        "rows_per_s" -> wl.rowsPerOp / Traced.median(walls.toSeq),
        "write_amp" -> Traced.median(amps.toSeq),
        "cache_peak_mb" -> Traced.median(peaks.toSeq))
    val (docsDir, oracleDirs) = wl match {
      case c: CurationNearDup => (c.docsDir,
        dirs.toSeq.map(_ -> Seq(CurationNearDup.Timed)))
      case _ => ("", Nil)
    }
    result(metrics, gate, oracleDirs, Seq(
      "rows_per_op" -> wl.rowsPerOp.toString,
      "op_walls" -> walls.map(Json.num).mkString("[", ",", "]"),
      "docs_dir" -> Json.str(docsDir),
      "oracle_sql" -> Json.str(s"${args.work}/oracle_sql.json")))
  }

  /** Traced run: the requested workload untraced (warm-up, then one timed
    * operation), then every layer traced on the same seed's inputs, the
    * requested workload's layers first. */
  def traced(spark: org.apache.spark.sql.SparkSession, args: Args, probes: Probes): String = {
    val tr = new Tracer
    val gate = new Gate
    val batch = new BatchDetect(spark, args.work, args.seed, args.perturb)
    val cur = new CurationNearDup(spark, args.work, args.seed)
    val wl: Workload = if (args.workload == cur.name) cur else batch
    require(args.workload == wl.name, s"unknown workload ${args.workload}")
    batch.stage()
    cur.stage()
    batch.prepareReference()
    cur.prepareReference()
    val gc0 = probes.gcS
    val untracedDirs = Seq("warmup", "untraced").map(d => s"${args.work}/ops/$d")
    val untraced = untracedDirs.map { d =>
      val w = gate.run(d)(if (d == untracedDirs.head) wl.warmUp(d) else wl.op(d))
      if (w.isDefined) gate.check(d)(wl.check(d))
      w
    }.last

    val t = new Traced(spark, args.work, args.seed, probes, tr, gate)
    val batchLayers = () => tr.span(batch.name)(t.batch(batch))
    val nearDupLayers = () => t.nearDup(cur)
    // the stream runs after the batch layers, which warm the same operators
    val groups =
      if (wl eq cur) Seq(nearDupLayers, batchLayers, () => t.stream(batch.tables))
      else Seq(batchLayers, () => t.stream(batch.tables), nearDupLayers)
    groups.foreach(_())
    val m = t.result
    // the traced counterpart of one untraced operation
    val tracedS = tr.get(if (wl eq cur) "neardup.curation" else wl.name).durS
    // an untraced operation that failed is already a failure of the gate
    val overhead = tracedS - untraced.getOrElse(0.0)
    val metrics = m.toSeq ++ Seq("jvm.gc_s" -> (probes.gcS - gc0), "trace.overhead_s" -> overhead)

    val tracePath = s"${args.work}/trace.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tracePath), tr.toJson)
    println(f"${wl.name}: untraced operation ${untraced.getOrElse(0.0)}%.3f s, " +
      f"traced $tracedS%.3f s, tracing overhead $overhead%.3f s")
    println(f"fused Pipeline.enrich ${m("Pipeline.enrich.s")}%.3f s, isolated stages " +
      f"summed ${m("operators.isolated_sum_s")}%.3f s (the gap is what fusion saves)")
    println(f"${"span"}%-40s ${"total_s"}%9s ${"self_s"}%9s")
    val byId = tr.spans.map(s => s.id -> s).toMap
    tr.spans.foreach { s =>
      val depth = Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
        .takeWhile(_ >= 0).size
      println(f"${"  " * depth + s.name}%-40s ${s.durS}%9.3f ${tr.selfS(s)}%9.3f")
    }
    result(metrics, gate,
      t.oracleDirs.map(_ -> CurationNearDup.Queries) ++ (if (wl eq cur) Seq(
        untracedDirs.head -> Seq(CurationNearDup.Timed),
        untracedDirs.last -> Seq(CurationNearDup.Timed)) else Nil),
      Seq("docs_dir" -> Json.str(cur.docsDir),
        "oracle_sql" -> Json.str(s"${args.work}/oracle_sql.json"),
        "trace_file" -> Json.str(tracePath)))
  }
}
