package perfbench

/** Benchmark entry point:
  * {{{
  * Main --workload <recall_serve|recall_ingest> --seed <n> --seconds <s>
  *      --trace <0|1> --work <scratch dir> [--spans <file>]
  * }}}
  * Prints one JSON line last: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (or, with `--trace 1`, the per-layer metrics). Exits
  * 1 when a correctness gate fails, 2 on a usage or run error. */
object Main {

  val Workloads: Seq[String] = Seq("recall_serve", "recall_ingest")

  /** The process's resident-set high-water mark, from the kernel. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsolutePath

    // graft.Bench's session (local[nproc], shuffle partitions = nproc); the
    // directories Spark writes come as spark.* system properties from run.py
    val spark = graft.Bench.makeSession(Runtime.getRuntime.availableProcessors().toString)
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val listener = new GroupListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, listener, new Tracer(trace), work, seed, seconds)
    val code =
      try {
        val out = Recall.run(ctx, ingest = workload == "recall_ingest")
        opts.get("spans").filter(_ => trace).foreach(ctx.tracer.write)
        val gates = {
          import scala.jdk.CollectionConverters._
          ctx.gateFailures.asScala.toSeq
        }
        gates.take(20).foreach(g => System.err.println(s"gate failed: $g"))
        val correct = gates.isEmpty && out.failed == 0
        out.metrics.foreach { case (k, v, _) =>
          require(!v.isNaN && !v.isInfinite, s"non-finite metric $k = $v")
        }
        println(Json.write(Json.obj(
          "correct" -> correct,
          "attempted" -> out.attempted,
          "failed" -> (out.failed max gates.length.toLong),
          "metrics" -> Json.obj(out.metrics.map { case (k, v, u) =>
            k -> Json.obj("value" -> v, "unit" -> u)
          }: _*))))
        if (correct) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $workload failed: $e")
          e.printStackTrace()
          2
      }
    spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
