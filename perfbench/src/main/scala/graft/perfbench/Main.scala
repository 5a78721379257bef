package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload as configured by run.py and writes
  * raw results (every operation with its time, facts and failure, set-up
  * times, heap occupancy after each collection, phase times, and in a
  * traced run the per-operation trace) to a JSON file. run.py checks the
  * outputs and derives the metrics.
  *
  * Usage: graft.perfbench.Main <config.json>
  *
  * Sequence: set-up three times (build the product's bench session, run
  * the workload once on small inputs, stop the session except after the
  * last), the workload's untimed preparation, a full collection, timed
  * passes (each followed by a full collection) until `seconds` of
  * operation time have accrued and the workload's minimum number of
  * passes has run, and in a traced run the same number of passes again
  * with the tracer on.
  * Outputs are checked from result dumps and verification steps, which
  * run as operations of their own outside the timed ones, and from facts
  * recorded with each timed operation. */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.load(args(0))
    val workload: Workload = cfg.workload match {
      case "batch_gates" => BatchGates
      case "etl_bulk" => EtlBulk
      case "stream" => StreamDrain
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spans = new Spans(false)
    val rec = new Recorder(spans)
    Heap.record()
    val phaseS = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phaseS(name) = (System.nanoTime() - t0) / 1e9
    }

    val setup = phase("setup")((1 to 3).map { i =>
      val t0 = System.nanoTime()
      val spark = graft.BenchSession.build()
      rec.use(spark)
      workload.warmup(rec, cfg)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      s
    })
    val spark = rec.session

    val heap = ArrayBuffer[Double]()
    def passes(phase: String, count: Option[Int]): Int = {
      var n, opsAt = 0
      var spent = 0.0
      while (count.fold(n < cfg.int("min_passes") || spent < cfg.seconds)(n < _)) {
        n += 1
        opsAt = rec.ops.size
        workload.pass(rec, cfg, phase, n)
        spent += rec.ops.drop(opsAt).filter(_.phase == phase).map(_.seconds).sum
        heap += Heap.afterFullGcMb()
      }
      n
    }
    phase("prepare")(workload.prepare(rec, cfg))
    // every timed pass starts on a fully collected heap, so heap_peak_mb
    // does not depend on the garbage set-up and preparation left behind
    heap += Heap.afterFullGcMb()
    val timedPasses = phase("timed")(passes("timed", None))

    val trace: Map[String, Any] =
      if (!cfg.trace) Map.empty
      else {
        val tracer = new Tracer
        Tracing.tracer = Some(tracer)
        spark.sparkContext.addSparkListener(tracer)
        spans.enabled = true
        phase("traced")(passes("traced", Some(timedPasses)))
        val extras = phase("trace_extras")(workload.traceExtras(rec, cfg))
        spans.enabled = false
        phase("trace_report") {
          tracer.drain()
          TraceReport(rec, tracer, cfg.str("spans"), extras)
        }
      }

    Json.write(cfg.str("out"), Map(
      "setup_s" -> setup,
      "timed_passes" -> timedPasses,
      "heap_after_full_gc_mb" -> heap,
      "collections" -> Heap.collections.map { case (ms, mb) => Seq(ms, mb) },
      "phases_s" -> phaseS,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "spark_version" -> spark.version,
      "oracle_sql" -> BatchGates.oracle(cfg.strs("keys")),
      "ops" -> rec.ops.map(_.toJson),
      "trace" -> trace))
    spark.stop()
  }
}

/** Folds the tracer's per-job-group records and the harness's spans into
  * per-operation trace facts, per-layer self times, and the span file. */
object TraceReport {
  def apply(rec: Recorder, tracer: Tracer, spansPath: String,
      extras: Map[String, Double]): Map[String, Any] = {
    val spans = rec.spans
    val toMs = (ns: Long) => spans.originEpochMs + ns / 1e6
    val traced = rec.ops.filter(_.phase == "traced")
    val groups = traced.map(_.group).toSet
    val byGroup = spans.all.filter(s => groups(s.group)).groupBy(_.group)

    // job spans join the span tree under the innermost span of their
    // group that was open when the job started
    final case class Row(id: Int, name: String, group: String, parent: Int,
        startMs: Double, endMs: Double)
    val rows = ArrayBuffer[Row]()
    spans.all.filter(s => groups(s.group)).foreach(s =>
      rows += Row(s.id, s.name, s.group, s.parent, toMs(s.startNs), toMs(s.endNs)))
    var nextId = spans.all.size
    traced.foreach { op =>
      val mine = byGroup.getOrElse(op.group, Nil)
      tracer.of(op.group).jobSpans.foreach { case (a, b) =>
        val host = mine.filter(s => toMs(s.startNs) <= a && toMs(s.endNs) >= a)
          .sortBy(s => -s.startNs).headOption
        rows += Row(nextId, "spark.job", op.group, host.map(_.id).getOrElse(-1),
          a.toDouble, b.toDouble)
        nextId += 1
      }
    }
    val childDur = rows.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endMs - c.startMs).sum }
    val layerSelf = rows.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, rs) =>
      layer -> rs.map(r => (r.endMs - r.startMs - childDur.getOrElse(r.id, 0.0)) / 1000.0).sum
    }

    val w = new java.io.PrintWriter(spansPath, "UTF-8")
    try rows.foreach(r => w.println(new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Json.conv(Map("id" -> r.id, "name" -> r.name,
        "group" -> r.group, "parent" -> r.parent, "start_ms" -> r.startMs,
        "end_ms" -> r.endMs)))))
    finally w.close()

    val perOp = traced.map { op =>
      val a = tracer.of(op.group)
      val p = tracer.planFacts(op.group)
      val mine = byGroup.getOrElse(op.group, Nil)
      val opStart = op.startMs
      val opEnd = op.startMs + (op.seconds * 1000).toLong
      val jobIv = a.jobSpans.toSeq
      def iv(names: String*) = mine.filter(s => names.contains(s.name))
        .map(s => (toMs(s.startNs).toLong, toMs(s.endNs).toLong))
      val spanSums = mine.groupBy(_.name).map { case (k, ss) => k -> ss.map(spans.durS).sum }
      val txnDriver = mine.filter(_.name.startsWith("txn.")).map { s =>
        val (sa, sb) = (toMs(s.startNs).toLong, toMs(s.endNs).toLong)
        spans.durS(s) - tracer.covered(jobIv, sa, sb)
      }.sum
      op.group -> Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "task_run_s" -> a.runMs / 1000,
        "task_cpu_s" -> a.cpuNs / 1e9, "sched_wait_s" -> a.schedMs / 1000,
        "gc_s" -> a.gcMs / 1000, "shuffle_write_bytes" -> a.shufWriteBytes,
        "shuffle_write_s" -> a.shufWriteNs / 1e9, "fetch_wait_s" -> a.fetchWaitMs / 1000,
        "spill_disk_bytes" -> a.spillDisk, "rows_read" -> a.rowsRead,
        "exchanges" -> p.exchanges, "codegen_stages" -> p.codegenStages,
        "files_read" -> p.filesRead, "bytes_read" -> p.bytesRead,
        "scan_s" -> p.scanMs / 1000, "join_rows" -> p.joinRows,
        "written_files" -> p.writtenFiles, "written_bytes" -> p.writtenBytes,
        "spans" -> spanSums,
        "job_covered_s" -> tracer.covered(jobIv, opStart, opEnd),
        "covered_s" -> tracer.covered(jobIv ++ iv("driver.build", "driver.plan"),
          opStart, opEnd),
        "txn_driver_s" -> txnDriver)
    }.toMap
    Map("ops" -> perOp, "layer_self_s" -> layerSelf, "extras" -> extras)
  }
}
