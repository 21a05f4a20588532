package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, raise_error, sum, xxhash64}

import graft.{GraftSession, SparkEntry, Tables}
import graft.sources.{MedallionSink, VersionedTable}

/** Benchmark JVM. Reads a plan (a Java properties file written by
  * run.py), runs the workload through the engine's public entry points
  * and writes what it observed as JSON. It judges nothing: run.py
  * checks every observed value against the DuckDB oracle and computes
  * the metrics.
  *
  * Modes:
  *  - `session`: start a session, report when it is ready, stop. run.py
  *    launches a few of these to take the median set-up time.
  *  - `run`: start a session, run one untimed warm pass, then `passes`
  *    timed passes (with `trace=1`, at least two untraced and as many
  *    traced passes, interleaved), then the correctness gate pass, which
  *    writes every result as parquet for the oracle compare. A pass
  *    beyond the first (the first two when traced) is skipped when it
  *    and the gate would not end before `deadline_ms`, so a slow engine
  *    still reports the passes it finished.
  */
object Main {
  /** One client operation as the benchmark saw it. */
  final case class Op(name: String, kind: String, seconds: Double, error: Option[String],
                      values: Map[String, Double])

  final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                        ops: Seq[Op], storage: BlockTracker.Storage, checks: Map[String, String])

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit = mapper.writeValue(new File(path), value)

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"plan has no '$k'"))
    def list(k: String): Seq[String] =
      Option(plan.getProperty(k)).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    val spark = GraftSession.get()
    val readyMs = System.currentTimeMillis()
    if (p("mode") == "session") {
      spark.stop()
      writeJson(p("out"), Map("ready_ms" -> readyMs))
      return
    }

    val sc = spark.sparkContext
    val blocks = new BlockTracker
    sc.addSparkListener(blocks)
    val trace = p("trace") == "1"
    val spans = new Spans(sc, p("run_id"), enabled = false)
    val traced = new Spans(sc, p("run_id"), enabled = true)
    val lake = p("lake")
    val work = p("work")
    val workload: Workload =
      if (p("kind") == "lake") new LakeWrite(spark, lake, work, plan)
      else new Queries(spark, lake, list("queries"), list("inject"))

    def pass(index: Int, sp: Spans): Pass = {
      ListenerBusDrain(sc)
      blocks.mark()
      val t0 = Clock.ms()
      val ops = sp("pass") { workload.pass(index, sp) }
      val t1 = Clock.ms()
      ListenerBusDrain(sc)
      val storage = blocks.read()
      val checks = workload.afterPass(index)
      Pass(index, sp.enabled, t0, t1, ops, storage, checks)
    }

    // a fixed pass count, so every run has the same shape whatever its
    // speed; only a run about to overrun its deadline ends early
    val passes = p("passes").toInt
    val deadlineMs = p("deadline_ms").toDouble

    val warm = pass(0, spans)
    val listener = new TraceListener
    def tracedPass(index: Int): Pass = {
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
      try traced("run") { pass(index, traced) }
      finally {
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
    }
    // Traced runs interleave untraced and traced passes as U T T U ...,
    // so warm-up drift cancels out of the tracing overhead estimate.
    val planned: Seq[Boolean] =
      if (!trace) Seq.fill(passes)(false)
      else (0 until math.max(2, passes)).flatMap(i => if (i % 2 == 0) Seq(false, true) else Seq(true, false))
    val required = if (trace) 2 else 1
    val measured = mutable.ArrayBuffer[Pass]()
    // a pass may start when it and the gate pass, each as long as the
    // longest pass so far, would end before the deadline
    for ((isTraced, i) <- planned.zipWithIndex if measured.length == i) {
      val longest = measured.map(m => m.endMs - m.startMs).maxOption.getOrElse(0.0)
      if (i < required || Clock.ms() + 2 * longest <= deadlineMs)
        measured += (if (isTraced) tracedPass(i + 1) else pass(i + 1, spans))
    }
    val gate = workload.gate(p("gate"))

    writeJson(p("out"), Map(
      "ready_ms" -> readyMs,
      "passes" -> (warm +: measured.toSeq).map(passJson),
      "passes_skipped" -> (planned.length - measured.length),
      "gate" -> gate.toMap,
      "extra" -> workload.extra) ++
      (if (trace) Map("trace" -> traceJson(traced, listener)) else Map.empty))
    spark.stop()
  }

  private def passJson(ps: Pass): Map[String, Any] = {
    val s = ps.storage
    Map("index" -> ps.index, "traced" -> ps.traced, "start_ms" -> ps.startMs,
      "end_ms" -> ps.endMs, "checks" -> ps.checks,
      "storage" -> Map("start" -> s.start, "end" -> s.end, "peak" -> s.peak,
        "rdd_created" -> s.rddCreated, "rdd_bytes_created" -> s.rddBytesCreated,
        "rdd_released" -> s.rddReleased),
      "ops" -> ps.ops.map { op =>
        Map("name" -> op.name, "kind" -> op.kind, "s" -> op.seconds, "values" -> op.values) ++
          op.error.map("error" -> _)
      })
  }

  private def traceJson(spans: Spans, l: TraceListener): Map[String, Any] = l.synchronized {
    Map(
      "spans" -> spans.all.toSeq.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      },
      "jobs" -> l.jobs.values.toSeq.map { jb =>
        Map("id" -> jb.id, "span" -> jb.span, "start_ms" -> jb.startMs, "end_ms" -> jb.endMs,
          "call_site" -> jb.callSite, "ckpt" -> isCheckpoint(jb.details),
          "stages" -> jb.stages.map(s => Map("id" -> s)))
      },
      "stages" -> l.stages.toSeq.sortBy(_._1).map { case (id, a) =>
        Map("id" -> id, "completed" -> a.completed, "tasks" -> a.tasks, "run_ms" -> a.runMs,
          "input_bytes" -> a.inputBytes, "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill)
      },
      "qes" -> l.qes.toSeq.map { q =>
        Map("func" -> q.funcName, "start_ms" -> q.startMs, "analysis_ms" -> q.analysisMs,
          "optimization_ms" -> q.optimizationMs, "planning_ms" -> q.planningMs, "ok" -> q.ok)
      })
  }

  /** A job is a checkpoint materialization when its submitting stack
    * runs through a checkpoint call (the engine's `Ckpt` bridge or a
    * raw `localCheckpoint`/`checkpoint`).
    */
  private def isCheckpoint(details: String): Boolean =
    details.contains("CheckpointBridge") || details.contains("localCheckpoint") ||
      details.contains(".checkpoint(")

  /** Times `body` as one operation; an exception becomes the op's error. */
  def timeOp(name: String, kind: String)(body: => Map[String, Double]): Op = {
    val t0 = System.nanoTime()
    try {
      val v = body
      Op(name, kind, (System.nanoTime() - t0) / 1e9, None, v)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(1).mkString.take(300)
        Op(name, kind, (System.nanoTime() - t0) / 1e9, Some(msg), Map.empty)
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  def pass(index: Int, spans: Spans): Seq[Main.Op]
  /** Runs untimed after each pass; returns a fingerprint per output the
    * gate checks, so run.py can tie every pass to the gated one. */
  def afterPass(index: Int): Map[String, String] = Map.empty
  /** Writes every result the oracle compares; returns name -> "ok" or the error. */
  def gate(dir: String): Seq[(String, String)]
  def extra: Map[String, String] = Map.empty
}

/** A closed loop of registered queries in the plan's order, each built
  * by its `SparkEntry` builder and executed through the noop sink. The
  * self-test can add two faulty queries: one that throws and one whose
  * result differs from the oracle.
  */
final class Queries(spark: SparkSession, lake: String, order: Seq[String],
                    inject: Seq[String]) extends Workload {
  private val registry = SparkEntry.queries
  private val injected: Map[String, (SparkSession, String) => DataFrame] = Map(
    "selftest_throw" -> ((s: SparkSession, _: String) =>
      s.range(1).select(raise_error(lit("injected failure")).as("x"))),
    "selftest_wrong" -> ((s: SparkSession, d: String) =>
      registry("q1_agg")(s, d).filter(col("l_returnflag") =!= lit("R"))))
  private val names = order ++ inject.map(i => s"selftest_$i")
  private def builder(q: String) = injected.getOrElse(q, registry(q))

  def pass(index: Int, spans: Spans): Seq[Main.Op] = names.map { q =>
    Main.timeOp(q, "query") {
      spans(s"query:$q") {
        val df = spans("build") { builder(q)(spark, lake) }
        spans("execute") { Main.noop(df) }
      }
      Map.empty
    }
  }

  def gate(dir: String): Seq[(String, String)] = {
    new File(dir).mkdirs()
    val oracle = SparkEntry.oracleSql
    val status = names.sorted.map { q =>
      val r = Main.timeOp(q, "gate") {
        builder(q)(spark, lake).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        Map.empty
      }
      q -> r.error.getOrElse("ok")
    }
    // the injected queries are judged against q1_agg's oracle
    Main.writeJson(s"$dir/oracle_sql.json",
      names.map(q => q -> oracle(if (injected.contains(q)) "q1_agg" else q)).toMap)
    status
  }
}

/** The medallion write-and-serve path through `sources/`: the silver
  * valid/quarantine outputs through MedallionSink, an orders base
  * committed to a VersionedTable with stats and bloom sidecars, the
  * plan's merge batches, then point lookups, range reads and one full
  * scan. Each pass builds its own table under `work/p<index>`.
  */
final class LakeWrite(spark: SparkSession, lake: String, work: String,
                      plan: java.util.Properties) extends Workload {
  private def list(k: String): Seq[String] =
    plan.getProperty(k, "").split(',').toSeq.filter(_.nonEmpty)
  private val merges = list("merges")
  private val points = list("points").map(_.toLong)
  private val ranges = list("ranges").map { r =>
    val Array(lo, hi) = r.split(':'); (lo.toDouble, hi.toDouble)
  }
  private val Key = "o_orderkey"
  private def root(index: Int) = s"$work/p$index"
  private def table(index: Int) = s"${root(index)}/gold/orders"

  private def silver(name: String): DataFrame = {
    val date = col("date_sk")
    SparkEntry.queries(name)(spark, lake)
      .withColumn("year", (date / 10000).cast("int"))
      .withColumn("month", (date / 100 % 100).cast("int"))
  }

  def pass(index: Int, spans: Spans): Seq[Main.Op] = {
    val dir = table(index)
    def sink(dataset: String, query: String) =
      Main.timeOp(s"sink.write:$dataset", "sink.write") {
        spans("sources:sink.write") {
          val rows = MedallionSink.write(silver(query), s"${root(index)}/silver", dataset,
            Seq("year", "month"))
          Map("rows" -> rows.toDouble)
        }
      }
    val writes = Seq(sink("events_valid", "silver_quality_valid"),
      sink("events_quarantine", "silver_quality_quarantine"))
    val commit = Main.timeOp("vt.commit", "vt.commit") {
      spans("sources:vt.commit") {
        val v = VersionedTable.commit(Tables(spark, lake, "orders"), dir,
          statsCol = Some(Key), bloomCol = Some(Key))
        Map("version" -> v.toDouble)
      }
    }
    val merged = merges.zipWithIndex.map { case (batch, i) =>
      Main.timeOp(s"vt.merge:$i", "vt.merge") {
        spans("sources:vt.merge") {
          val (v, rewritten, updated, inserted) = VersionedTable.merge(spark, dir,
            spark.read.parquet(batch), Key, statsCol = Some(Key), bloomCol = Some(Key))
          Map("version" -> v.toDouble, "segments_rewritten" -> rewritten.toDouble,
            "updated" -> updated.toDouble, "inserted" -> inserted.toDouble)
        }
      }
    }
    // reads: the call is the build, collecting its rows is the execution
    def read(kind: String, name: String)(call: => DataFrame): Main.Op = {
      var df: DataFrame = null
      val op = Main.timeOp(name, kind) {
        spans(s"sources:$kind") {
          df = spans("build") { call }
          Map("rows" -> spans("execute") { df.collect().length }.toDouble)
        }
      }
      if (op.error.nonEmpty) op
      else op.copy(values = op.values + ("segments_opened" -> segmentsOpened(df).toDouble))
    }
    val lookups = points.map { k =>
      read("vt.point", s"vt.point:$k") { VersionedTable.readPoint(spark, dir, Key, k) }
    }
    val rangeReads = ranges.map { case (lo, hi) =>
      read("vt.range", s"vt.range:${lo.toLong}-${hi.toLong}") {
        VersionedTable.readWhere(spark, dir, Key, lo, hi)
      }
    }
    val scan = Main.timeOp("vt.scan", "vt.scan") {
      spans("sources:vt.scan") {
        val df = spans("build") { VersionedTable.read(spark, dir) }
        spans("execute") { Main.noop(df) }
      }
      Map.empty
    }
    writes ++ Seq(commit) ++ merged ++ lookups ++ rangeReads ++ Seq(scan)
  }

  /** Distinct segment directories a read's scan lists. */
  private def segmentsOpened(df: DataFrame): Int =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).distinct.length

  private var lastIndex = -1

  private def sinkOutput(index: Int, dataset: String): DataFrame =
    spark.read.parquet(s"${root(index)}/silver/dataset=$dataset").drop("year", "month")

  /** Row count and order-free content hash of a table. */
  private def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.select(count(lit(1)), sum(h)).head()
    s"${r.get(0)}:${r.get(1)}"
  }

  /** Fingerprints the pass's final table and sink outputs, then keeps
    * only the newest pass's files on disk. */
  override def afterPass(index: Int): Map[String, String] = {
    val checks = Map(
      "lake_final" -> fingerprint(VersionedTable.read(spark, table(index))),
      "sink_events_valid" -> fingerprint(sinkOutput(index, "events_valid")),
      "sink_events_quarantine" -> fingerprint(sinkOutput(index, "events_quarantine")))
    if (index > 0) deleteTree(new File(root(index - 1)))
    lastIndex = index
    checks
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Writes the newest pass's final table and sink outputs. */
  def gate(dir: String): Seq[(String, String)] = {
    new File(dir).mkdirs()
    val last = lastIndex
    def dump(name: String)(df: => DataFrame): (String, String) = {
      val r = Main.timeOp(name, "gate") {
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        Map.empty
      }
      name -> r.error.getOrElse("ok")
    }
    Seq(
      dump("lake_final") { VersionedTable.read(spark, table(last)) },
      dump("sink_events_valid") { sinkOutput(last, "events_valid") },
      dump("sink_events_quarantine") { sinkOutput(last, "events_quarantine") })
  }

  override def extra: Map[String, String] = {
    val oracle = SparkEntry.oracleSql
    Map("table_dir" -> table(lastIndex), "silver_dir" -> s"${root(lastIndex)}/silver",
      "oracle_valid" -> oracle("silver_quality_valid"),
      "oracle_quarantine" -> oracle("silver_quality_quarantine"))
  }
}
