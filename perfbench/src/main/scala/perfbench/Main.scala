package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark JVM: build the session through the engine's public
  * builder, set up the workload, run timed ops until the first whole pass
  * that ends after `--seconds`, run the correctness gates, write `--out` as
  * JSON. `perfbench/run.py` drives it and turns the raw records into the
  * reported metrics.
  *
  *   --workload W --input DIR --work DIR --out FILE --seconds S
  *   --cores N [--min-ops N] [--max-ops N] [--trace] [--corrupt]
  *   [--no-op-gates] [--no-final-check] [--setup-only]
  *
  * `--setup-only` stops once the first op is ready and reports only the
  * set-up time; `--no-op-gates` and `--no-final-check` leave out the
  * correctness gates of JVMs that only serve as a timing reference.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val cores = opts("cores").toInt
    val seconds = opts("seconds").toDouble
    val minOps = opts.get("min-ops").map(_.toInt).getOrElse(1)
    val maxOps = opts.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue)
    val work = opts("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.builder(Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark.sparkContext, flags("trace"))
    val w = Workload(workload,
      Ctx(spark, tr, opts("input"), s"$work/run", flags("corrupt")))
    w.setup()
    // set-up: JVM start until the first op is ready
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (flags("setup-only")) {
      Files.writeString(Paths.get(opts("out")), Json.obj(Seq("setup_s" -> setupS)))
      spark.stop()
      return
    }
    val out = Seq.newBuilder[(String, Any)]
    val ops = Seq.newBuilder[Map[String, Any]]
    var failed = 0
    var timedNs = 0L
    var i = 0
    // closed loop: the next op starts when the previous one (and its
    // untimed gate) is done
    while (w.hasOp(i) && i < maxOps &&
        (i < minOps || timedNs < seconds * 1e9 || !w.boundary(i - 1))) {
      val t0 = System.nanoTime()
      val rows = try tr.op(i)(w.op(i)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e")
          -1L
      }
      val ns = System.nanoTime() - t0
      timedNs += ns
      if (tr.enabled) w.traceCounters(i)
      val g0 = System.nanoTime()
      val ok = rows >= 0 && (flags("no-op-gates") || (try w.check(i) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] gate $i failed: $e"); false
      }))
      if (!ok) failed += 1
      ops += Map("ms" -> ns / 1e6, "gate_ms" -> (System.nanoTime() - g0) / 1e6,
        "rows" -> rows.max(0L), "ok" -> ok,
        "name" -> w.name(i), "family" -> w.family(i))
      i += 1
    }
    out += "retained_heap_mb" -> Jvm.retainedHeapMb()
    val f0 = System.nanoTime()
    val finalOk = flags("no-final-check") || (try w.finalCheck() catch {
      case e: Exception =>
        System.err.println(s"[perfbench] final gate failed: $e"); false
    })
    out += "final_check_ms" -> (System.nanoTime() - f0) / 1e6
    out += "final_checked" -> !flags("no-final-check")
    out += "gates" -> w.gateFailures.toMap
    out += "attempted" -> i
    out += "failed" -> (if (finalOk) failed else i)
    out += "ops" -> ops.result()
    if (tr.enabled) {
      out += "trace" -> tr.perOp()
      out += "stores" -> w.stores.map { s =>
        val (bytes, files) = Workload.dirBytesAndFiles(spark, s)
        val live = graft.streaming.KeyedStore.readActive(spark, s).map(_.count()).getOrElse(0L)
        Map("path" -> s, "bytes" -> bytes, "files" -> files, "live_rows" -> live)
      }
      tr.write(Paths.get(opts("out") + ".spans.jsonl"))
    }

    out += "setup_s" -> setupS
    out += "spark_version" -> spark.version
    out += "cores" -> cores
    Files.writeString(Paths.get(opts("out")), Json.obj(out.result()))
    spark.stop()
  }
}
