package graft.perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.connector.{Connection, EtlpSink}
import graft.functions.{Envelope, Hl7, Jsonl, MappingSpec}
import graft.operators.Txn
import graft.pipeline.Xf
import graft.sinks.{ParquetSink, TxnSink}
import graft.sources.{DirectorySource, JsonlSource, TextLineSource}

/** A workload is a fixed unit of work (a pass) run closed-loop, plus an
  * untimed warm-up of the same shape on small inputs. */
trait Workload {
  def warmup(r: Recorder, cfg: Config): Unit
  def pass(r: Recorder, cfg: Config, phase: String, n: Int): Unit
  /** Untimed work after set-up and before the timed passes. */
  def prepare(r: Recorder, cfg: Config): Unit = ()
  /** Per-layer measurements that need extra calls (traced runs only). */
  def traceExtras(r: Recorder, cfg: Config): Map[String, Double] = Map.empty
}

object Rows {
  /** Materialise every output row of the final plan (the product bench's
    * timing action) and count them on the way. */
  def count(df: DataFrame): Long = {
    val acc = df.sparkSession.sparkContext.longAccumulator
    df.queryExecution.toRdd.foreachPartition((it: Iterator[InternalRow]) =>
      acc.add(it.size.toLong))
    acc.value
  }
}

/** Gate keys of `SparkEntry.queries`: build each key's DataFrame, force
  * its physical plan, then materialise it. */
object BatchGates extends Workload {
  def warmup(r: Recorder, cfg: Config): Unit =
    cfg.strs("warmup_keys").foreach(run(r, _, cfg.str("tiny"), "warmup", 0))

  /** An untimed check pass writes each key's result as parquet for the
    * output check (as the product's Verify writes it); it also compiles
    * each key's plan at full scale, so the timed pass measures warm keys. */
  override def prepare(r: Recorder, cfg: Config): Unit =
    order(cfg, 1).foreach(k => dump(r, k, cfg.str("tables"), s"${cfg.work}/out/$k"))

  /** Every key once, in an order drawn from the seed. */
  def pass(r: Recorder, cfg: Config, phase: String, n: Int): Unit =
    order(cfg, n).foreach(run(r, _, cfg.str("tables"), phase, n))

  private def order(cfg: Config, n: Int): Seq[String] =
    new scala.util.Random(cfg.seed * 7919 + n).shuffle(cfg.strs("keys"))

  private def query(key: String) = graft.SparkEntry.queries.getOrElse(key,
    throw new NoSuchElementException(s"gate key $key is not in SparkEntry.queries"))

  private def run(r: Recorder, key: String, dir: String, phase: String, n: Int): Unit = {
    // a neighbour's cached relations are cleared outside the timed region
    r.session.catalog.clearCache()
    r.op(key, phase, n) {
      val df = r.span("driver.build")(query(key)(r.session, dir))
      r.span("driver.plan")(df.queryExecution.executedPlan)
      Map("rows" -> r.span("driver.exec")(Rows.count(df)))
    }
  }

  private def dump(r: Recorder, key: String, dir: String, out: String): Unit = {
    r.session.catalog.clearCache()
    r.op(key, "dump", 0) {
      query(key)(r.session, dir).write.mode("overwrite").parquet(out)
      Map.empty
    }
  }

  def oracle(keys: Seq[String]): Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
}

/** An EtlpSink decorator that times the sink's write as its own span. */
final class TimedSink(inner: EtlpSink, @transient r: Recorder, spanName: String)
    extends EtlpSink {
  def spec: Map[String, String] = inner.spec
  def check(spark: SparkSession) = inner.check(spark)
  def write(df: DataFrame): Long = r.span(spanName)(inner.write(df))
}

object EtlBulk extends Workload {
  val recordSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("ts", LongType),
    StructField("user", StringType), StructField("kind", StringType),
    StructField("amount", DecimalType(12, 2)), StructField("qty", IntegerType),
    StructField("tags", ArrayType(StringType)),
    StructField("addr", StructType(Seq(StructField("city", StringType),
      StructField("zip", StringType))))))
  val hl7Schema: StructType = StructType(Seq(
    StructField("msg_id", LongType), StructField("msg", StringType)))
  val updateSchema: StructType = StructType(Seq(
    StructField("msg_id", LongType), StructField("seg_idx", IntegerType),
    StructField("seg", StringType)))

  val mapping: MappingSpec = MappingSpec.parse(
    """id           = col: id
      |ts           = col: ts
      |user         = col: user
      |kind         = expr: UPPER(kind)
      |amount_cents = expr: CAST(amount * 100 AS BIGINT)
      |qty          = col: qty
      |n_tags       = expr: CAST(size(tags) AS INT)
      |city         = jute: "$ lower(addr.city)"
      |""".stripMargin)

  /** raw lines → parsed records → mapped columns → wrapped envelope */
  val recordsXf: Xf =
    Xf(Jsonl.parseLines(_, "line", recordSchema)) >>
      Xf(mapping(_)) >>
      Xf(_.withColumn("envelope", Envelope.wrapRecord(col("ts"), "records",
        struct(col("id"), col("kind"), col("amount_cents")))))

  /** HL7 message → one row per segment, keyed for the merge */
  def segments(df: DataFrame): DataFrame = df.select(
    col("msg_id"), col("seg_idx").cast("int").as("seg_idx"),
    (col("msg_id") * 16 + col("seg_idx")).as("seg_key"),
    Hl7.segmentId(col("seg")).as("seg_id"),
    size(Hl7.fields(col("seg"))).as("n_fields"), col("seg"))
  // clustered by msg_id so the Txn stats can prune the read-back
  val hl7Xf: Xf = Xf(df => segments(Hl7.explodeSegments(df, col("msg")))
    .repartitionByRange(8, col("msg_id")))

  /** msg_id range of the pruned read-back, as the generator chose it */
  def readRange(in: String): (Double, Double) = {
    val e = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$in.done.json")).get("expect")
    (e.get("read_lo").asDouble(), e.get("read_hi").asDouble())
  }

  /** the records parquet output and the segments Txn table */
  private def outputs(cfg: Config) =
    (s"${cfg.work}/etl/records", s"${cfg.work}/etl/segments")

  def connect(r: Recorder, conn: Connection): Map[String, Any] = {
    val spark = r.session
    val ok = r.span("connector.check")(conn.check(spark))
    require(ok.valid, s"connector check failed: ${ok.message}")
    r.span("connector.discover")(conn.source.discover(spark))
    Map("rows" -> r.span("connector.start")(conn.start(spark)))
  }

  def runPass(r: Recorder, cfg: Config, in: String, phase: String, n: Int): Unit = {
    val (recOut, segRoot) = outputs(cfg)
    Seq(recOut, segRoot).foreach(graft.Bench.resetScratch)
    val spark = r.session
    val steps: Seq[(String, () => Map[String, Any])] = Seq(
      "records" -> (() => connect(r, Connection(
        DirectorySource(s"$in/records", "text"), recordsXf,
        new TimedSink(ParquetSink(recOut), r, "sinks.write")))),
      "hl7" -> (() => connect(r, Connection(
        JsonlSource(s"$in/hl7", Some(hl7Schema)), hl7Xf,
        new TimedSink(TxnSink(segRoot, SaveMode.Append, statsCol = Some("msg_id")),
          r, "txn.commit")))),
      "merge" -> (() => {
        val upd = r.span("driver.build")(segments(Jsonl.parseLines(
          TextLineSource(s"$in/updates").read(spark), "line", updateSchema)
          .select(col("msg_id"), col("seg_idx"), col("seg"))))
        Map("version" -> r.span("txn.merge")(
          Txn.commitMerge(spark, segRoot, upd, "seg_key", statsCol = Some("msg_id"))))
      }),
      "read" -> (() => {
        val (lo, hi) = readRange(in)
        Map("rows" -> r.span("txn.read")(
          Txn.readWhere(spark, segRoot, "msg_id", lo, hi).count()))
      }))
    steps.foreach { case (name, f) => r.op(name, phase, n)(f()) }
  }

  /** Output facts of a pass, gathered outside every timed operation. */
  def verify(r: Recorder, cfg: Config, in: String, n: Int): Unit = {
    val (recOut, segRoot) = outputs(cfg)
    val spark = r.session
    r.op("verify", "verify", n) {
      val rec = spark.read.parquet(recOut)
        .agg(count(lit(1)), sum("amount_cents")).head()
      val seg = Txn.read(spark, segRoot)
      val zup = seg.where(col("seg_id") === "ZUP").count()
      val (outFiles, outBytes) = Seq(recOut, s"$segRoot/data").map(Files.du(_))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val (logFiles, logBytes) = Files.du(s"$segRoot/_manifests")
      Map("records_rows" -> rec.getLong(0), "records_amount_cents" -> rec.getLong(1),
        "txn_rows" -> seg.count(), "txn_zup" -> zup,
        "out_files" -> outFiles, "out_bytes" -> (outBytes + logBytes),
        "in_bytes" -> Files.du(in)._2,
        "txn_log_files" -> logFiles, "txn_log_bytes" -> logBytes)
    }
  }

  def warmup(r: Recorder, cfg: Config): Unit =
    runPass(r, cfg, cfg.str("etl_tiny"), "warmup", 0)
  def pass(r: Recorder, cfg: Config, phase: String, n: Int): Unit = {
    runPass(r, cfg, cfg.str("etl"), phase, n)
    verify(r, cfg, cfg.str("etl"), n)
  }

  override def traceExtras(r: Recorder, cfg: Config): Map[String, Double] = {
    val spark = r.session
    val in = cfg.str("etl")
    val (_, segRoot) = outputs(cfg)
    def timeNoop(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val src = DirectorySource(s"$in/records", "text")
    // prefix runs, each the median of three: source only, then
    // source→xform; the difference is the transform's cost
    def med3(f: => Double) = Seq(f, f, f).sorted.apply(1)
    val srcOnly = med3(timeNoop(src.read(spark)))
    val withXf = med3(timeNoop(recordsXf(src.read(spark))))
    val (lo, hi) = readRange(in)
    val scanned = Txn.filesForRange(spark, segRoot, lo, hi).size
    val live = Txn.snapshotFiles(spark, segRoot, Txn.currentVersion(spark, segRoot)).size
    Map("pipeline.xform_s" -> math.max(0.0, withXf - srcOnly),
      "txn.files_scanned" -> scanned.toDouble,
      "txn.prune_ratio" -> scanned.toDouble / math.max(1, live))
  }
}

object StreamDrain extends Workload {
  /** The drain queries: (name, output mode, sink, build). */
  val queries: Seq[(String, OutputMode, String, DataFrame => DataFrame)] = Seq(
    ("windowed", OutputMode.Update(), "memory",
      graft.streaming.Streaming.windowedCounts(_, "1 hour", "1 hour")),
    ("running_tws", OutputMode.Update(), "memory",
      graft.streaming.Streaming.runningTotalsTwsStream(_).toDF()),
    ("txn_sink", OutputMode.Append(), "graft-txn",
      _.select("event_id", "ts", "user_id", "event_type", "value")))

  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def drain(r: Recorder, cfg: Config, backlog: String, phase: String, n: Int,
      filesPerTrigger: String => Int, verify: Boolean): Unit = {
    val base = s"${cfg.work}/drain/$phase$n"
    graft.Bench.resetScratch(base)
    // a query given 0 files per trigger is left out
    queries.filter(q => filesPerTrigger(q._1) > 0).foreach { case (name, mode, sink, build) =>
      var q: StreamingQuery = null
      val sess = r.session.newSession()
      // stateful micro-batches run at the product's streaming width
      sess.conf.set("spark.sql.shuffle.partitions",
        sess.conf.getOption("graft.stream.shufflePartitions").getOrElse("8"))
      sess.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      if (name == "running_tws")
        sess.conf.set("spark.sql.streaming.stateStore.providerClass", rocks)
      val table = s"pb_${name}_$phase$n"
      r.op(s"drain_$name", phase, n) {
        val schema = sess.read.parquet(backlog).schema
        val in = sess.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger(name).toString)
          .parquet(backlog)
        val w = build(in).writeStream.outputMode(mode)
          .option("checkpointLocation", s"$base/ckpt/$name")
          .trigger(Trigger.AvailableNow())
        q = r.span("streaming.start")(
          if (sink == "memory") w.format("memory").queryName(table).start()
          else w.format(sink).option("path", s"$base/txn").start())
        Tracing.alias(q.runId.toString, r.spans.currentGroup)
        r.span("streaming.run")(q.awaitTermination())
        Progress.facts(q)
      }
      if (verify && q != null && q.exception.isEmpty) r.op(s"drain_$name", "verify", n) {
        name match {
          // Update mode emits a window's running count each time it
          // changes; the final count is the largest
          case "windowed" =>
            Map("rows" -> sess.table(table).groupBy("window_start", "event_type")
              .agg(max("n").as("n")).agg(sum("n")).head().getLong(0))
          case "running_tws" =>
            val fin = sess.table(table).groupBy("user_id")
              .agg(max("n_events").as("n"), max("sum_micros").as("m"))
              .agg(sum("n"), sum("m")).head()
            Map("rows" -> fin.getLong(0), "sum_micros" -> fin.getLong(1))
          case "txn_sink" =>
            Map("rows" -> Txn.read(sess, s"$base/txn").count())
        }
      }
    }
    if (verify) r.op("drain", "verify", n) {
      Map("checkpoint_bytes" -> Files.du(s"$base/ckpt")._2)
    }
  }

  // the warm-up drains the small backlog one file per micro-batch, so the
  // batch paths are compiled before the timed pass; it leaves out the
  // RocksDB query, whose one micro-batch costs seconds even on a small
  // backlog and would double the cost of each set-up
  def warmup(r: Recorder, cfg: Config): Unit =
    drain(r, cfg, cfg.str("backlog_tiny"), "warmup", 0,
      name => if (name == "running_tws") 0 else 1, verify = false)
  def pass(r: Recorder, cfg: Config, phase: String, n: Int): Unit =
    drain(r, cfg, cfg.str("backlog"), phase, n,
      name => cfg.int(s"max_files_per_trigger_$name"), verify = true)
}

/** Micro-batch facts of a finished streaming query, from its progress. */
object Progress {
  def facts(q: StreamingQuery): Map[String, Any] = {
    val ps = q.recentProgress.toSeq
    def dur(k: String): Seq[Long] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum)
    Map("batches" -> ps.size,
      "input_rows" -> ps.map(_.numInputRows).sum,
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch").sum,
      "latest_offset_ms" -> dur("latestOffset").sum,
      "plan_ms" -> dur("queryPlanning").sum,
      "wal_commit_ms" -> (dur("walCommit").sum + dur("commitOffsets").sum),
      "state_commit_ms" -> state(_.commitTimeMs).sum,
      "state_rows" -> state(_.numRowsTotal).lastOption.getOrElse(0L),
      "state_mem_bytes" -> (state(_.memoryUsedBytes) :+ 0L).max,
      "late_rows_dropped" -> state(_.numRowsDroppedByWatermark).sum)
  }
}
