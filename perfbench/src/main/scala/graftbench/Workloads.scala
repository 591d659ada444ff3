package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{Curation, TextAnalysis}
import graft.queries.{Q, Registry}
import graft.sources.{IcebergIO, IcebergWrite}
import graft.streaming.StreamingOps

object Workloads {
  /** Plain SQL (TPC-H, h2o groupby and join): no graft operator, write or
    * stream. An operator, sources or streaming change must not move it. */
  val Sql: Seq[String] = Seq("tpch_q1", "tpch_q3", "tpch_q18", "h2o_q10", "h2o_join_q1")

  /** LLM-data operators: eager driver-side jobs, interpreted folds,
    * persisted intermediates, native expressions. */
  val Operators: Seq[String] = Seq("cur_bloom_gate", "text_hashlin_classify", "embed_pq_adc")

  def apply(name: String, seed: Long, data: String, out: String): Workload = name match {
    case "batch_queries" => new RegistryWorkload(Sql ++ Operators, 7.0, seed, data, out)
    case "ingest" => new Composite(Seq(new IcebergDml(seed, data, out),
      new StreamCurate(seed, data, out)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Registry queries, each run the way `graft.Bench` runs it: `Q.run`, then
  * the result forced through the noop sink, then the cache cleared. The
  * check pass writes each result as parquet for the DuckDB oracle. */
final class RegistryWorkload(names: Seq[String], val nominalPassSeconds: Double,
                             seed: Long, data: String, out: String) extends Workload {
  private lazy val byName: Map[String, Q] = Registry.all.map(q => q.name -> q).toMap
  private var passNo = 0
  private var spark: SparkSession = _

  def setup(s: SparkSession): Unit = {
    spark = s
    Registry.prepare(spark, data)
    names.foreach(n => require(byName.contains(n), s"unknown registry query $n"))
  }

  override def oracle: Map[String, String] =
    names.flatMap(n => byName(n).oracle.map(n -> _)).toMap

  def check(run: Run): Unit = names.foreach { n =>
    run.op(n, "query") {
      byName(n).run(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/outputs/$n")
    }
    spark.catalog.clearCache()
  }

  def pass(run: Run): Unit = {
    val order = new Random(seed * 7919 + passNo).shuffle(names)
    passNo += 1
    order.foreach { n =>
      run.op(n, "query") {
        run.tracer.span("prepare", "queries")(Registry.prepare(spark, data))
        val df = run.tracer.span("Q.run", "queries")(byName(n).run(spark, data))
        run.tracer.planning(df.queryExecution)
        run.tracer.span("action", "exec") {
          df.write.format("noop").mode("overwrite").save()
        }
        run.count("operators.persisted_rdds", spark.sparkContext.getPersistentRDDs.size)
      }
      spark.catalog.clearCache()
    }
  }
}

/** Workloads run one after the other in each phase, sharing the session. */
final class Composite(parts: Seq[Workload]) extends Workload {
  val nominalPassSeconds: Double = parts.map(_.nominalPassSeconds).sum
  def setup(spark: SparkSession): Unit = parts.foreach(_.setup(spark))
  def check(run: Run): Unit = parts.foreach(_.check(run))
  def pass(run: Run): Unit = parts.foreach(_.pass(run))
  override def afterPass(run: Run): Map[String, Double] = parts.flatMap(_.afterPass(run)).toMap
}

/**
 * A seeded op log on a 4-bucket, format-v2 Iceberg table built from
 * `orders`. Each pass loads a fresh table (create + base append), runs
 * one round of append, upsert (equality deletes), deleteWhere (position
 * deletes), a full-scan aggregate, a pruned read and a changelog read, and
 * ends with a compaction. Every read is compared with an in-memory model
 * of the same log, and so is the final table.
 */
final class IcebergDml(seed: Long, data: String, out: String) extends Workload {
  val nominalPassSeconds = 6.3
  private val BaseRows = 3000
  private val Partitioning = Map("o_orderkey" -> "bucket[4]")
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DecimalType(15, 2), nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  /** (key, customer, status, price in cents, priority) */
  private type R = (Long, Long, String, Long, String)

  private var spark: SparkSession = _
  private var baseRows: Seq[R] = Nil
  private var appends: Seq[R] = Nil
  private var upserts: Seq[R] = Nil
  private var deleteMod = 0
  private var probe: Seq[Long] = Nil
  private var passNo = 0
  private var table: String = _
  private var model: Map[Long, R] = Map.empty

  def setup(s: SparkSession): Unit = {
    spark = s
    baseRows = spark.read.parquet(s"$data/orders.parquet")
      .orderBy("o_orderkey").limit(BaseRows)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getString(4))).toSeq
    // the seeded round: 150 new keys, 100 updates of live keys + 50 new
    // keys, a delete of ~1 % of the customers, and a probe of 20 keys
    val rnd = new Random(seed)
    var nextKey = 1000000L
    def fresh(): R = {
      nextKey += 1
      (nextKey, rnd.nextInt(1500).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        100000L + rnd.nextInt(49900000), s"${1 + rnd.nextInt(5)}-PRIO")
    }
    appends = Seq.fill(150)(fresh())
    val keys = (baseRows ++ appends).map(_._1).toVector
    upserts = Seq.fill(100)(keys(rnd.nextInt(keys.size))).distinct
      .map(k => (baseRows ++ appends).find(_._1 == k).get)
      .map(r => r.copy(_3 = "U", _4 = r._4 + 1)) ++ Seq.fill(50)(fresh())
    deleteMod = rnd.nextInt(97)
    probe = (Seq.fill(20)(keys(rnd.nextInt(keys.size))) ++ Seq(nextKey, -1L)).distinct
    table = freshTable("setup")
    IcebergWrite.create(spark, table, schema, partitionCols = Seq("o_orderkey"),
      partitionTransforms = Partitioning)
    IcebergWrite.append(frame(baseRows), table)
  }

  private def frame(rows: Seq[R]): DataFrame = spark.createDataFrame(
    rows.map(r => Row(r._1, r._2, r._3, java.math.BigDecimal.valueOf(r._4, 2), r._5)).asJava,
    schema)

  private def freshTable(tag: String): String = {
    val p = Paths.get(out, "iceberg", tag)
    Workloads.deleteTree(p)
    p.toString
  }

  private def sources[T](name: String)(body: => T)(implicit run: Run): T =
    run.tracer.span(name, "sources")(body)

  def check(run: Run): Unit = {
    implicit val r: Run = run
    model = baseRows.map(x => x._1 -> x).toMap
    playRound()
    compareTable(run, "iceberg_final_table")
  }

  def pass(run: Run): Unit = {
    implicit val r: Run = run
    table = freshTable(s"pass-$passNo")
    passNo += 1
    run.op("load", "write") {
      sources("IcebergWrite.create")(IcebergWrite.create(spark, table, schema,
        partitionCols = Seq("o_orderkey"), partitionTransforms = Partitioning))
      sources("IcebergWrite.append")(IcebergWrite.append(frame(baseRows), table))
    }
    model = baseRows.map(x => x._1 -> x).toMap
    playRound()
    run.op("compact", "write")(sources("IcebergWrite.compact")(
      IcebergWrite.compact(spark, table)))
  }

  private def playRound()(implicit run: Run): Unit = {
    val before = IcebergIO.loadMetadata(table).currentSnapshotId
    run.op("append", "write")(sources("IcebergWrite.append")(
      IcebergWrite.append(frame(appends), table)))
    model ++= appends.map(x => x._1 -> x)
    run.op("upsert", "write")(sources("IcebergWrite.upsert")(
      IcebergWrite.upsert(frame(upserts), table, Seq("o_orderkey"))))
    val replaced = upserts.count(x => model.contains(x._1))
    model ++= upserts.map(x => x._1 -> x)
    run.op("delete", "write")(sources("IcebergWrite.deleteWhere")(
      IcebergWrite.deleteWhere(spark, table, col("o_custkey") % 97 === deleteMod)))
    val deleted = model.values.count(_._2 % 97 == deleteMod)
    model = model.filter(_._2._2 % 97 != deleteMod)

    val agg = run.op("scan", "read")(sources("IcebergIO.read")(
      IcebergIO.read(spark, table).groupBy("o_orderstatus")
        .agg(count(lit(1)), sum("o_totalprice")).collect()))
    val want = model.values.groupBy(_._3).map { case (s, rs) =>
      s -> (rs.size.toLong, rs.map(_._4).sum) }
    run.check("iceberg_scan", agg.exists(_.map(r => r.getString(0) ->
      (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact)).toMap == want))

    val probed = run.op("prune", "read")(sources("IcebergIO.readWhere")(
      IcebergIO.readWhere(spark, table, col("o_orderkey").isin(probe: _*)).collect()))
    run.check("iceberg_pruned_read", probed.exists(_.map(rowOf).toSet ==
      probe.flatMap(model.get).toSet))

    val changes = run.op("changelog", "read")(sources("IcebergIO.readChangelog")(
      IcebergIO.readChangelog(spark, table, fromSnapshotId = before)
        .groupBy("_change_type").count().collect()))
    run.check("iceberg_changelog", changes.exists(_.map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("insert" -> (appends.size + upserts.size).toLong,
        "delete" -> (replaced + deleted).toLong)))
  }

  private def rowOf(r: Row): R = (r.getLong(0), r.getLong(1), r.getString(2),
    r.getDecimal(3).movePointRight(2).longValueExact, r.getString(4))

  private def compareTable(run: Run, name: String): Unit = {
    val got = IcebergIO.read(spark, table).collect().map(rowOf)
    run.check(name, got.length == model.size && got.toSet == model.values.toSet,
      s"${got.length} rows vs model ${model.size}")
  }

  /** End-of-pass state, outside the timing: the model check, space
    * amplification (table bytes over the live rows written once as plain
    * parquet) and the table's file counts. */
  override def afterPass(run: Run): Map[String, Double] = {
    compareTable(run, "iceberg_final_table")
    val plain = Paths.get(out, "iceberg", "plain")
    Workloads.deleteTree(plain)
    frame(model.values.toSeq).coalesce(1).write.parquet(plain.toString)
    def parquetBytes(p: Path) = Files.walk(p).iterator.asScala
      .filter(f => f.toString.endsWith(".parquet")).map(Files.size).sum
    val tableBytes = Workloads.bytesUnder(Paths.get(table))
    Map(
      "space_amp" -> tableBytes.toDouble / parquetBytes(plain),
      "table_mb" -> tableBytes / 1048576.0,
      "data_files" -> IcebergIO.dataFiles(spark, table).count().toDouble,
      "delete_files" -> IcebergIO.deleteFiles(spark, table).count().toDouble,
      "manifests" -> IcebergIO.manifests(spark, table).count().toDouble,
      "metadata_mb" -> Workloads.bytesUnder(Paths.get(table, "metadata")) / 1048576.0)
  }
}

/**
 * `StreamingOps.curateStream` draining a fixed backlog of parquet files in
 * micro-batches (`maxFilesPerTrigger` 1, `Trigger.AvailableNow`), with the
 * gopher rules, a hashed-linear gate, bloom decontamination and PII
 * redaction. The backlog holds the documents with event times, injected
 * duplicates and injected e-mail addresses; the gate model and the bloom
 * filter are built in set-up. Each pass is one drain from a fresh
 * checkpoint; the check drain is compared with a batch replay of the same
 * gates over the same documents.
 */
final class StreamCurate(seed: Long, data: String, out: String) extends Workload {
  val nominalPassSeconds = 3.0
  private val BacklogFiles = 4
  private val MinQuality = 0.05
  private val K = 8
  private val KeepLabels = Set("en", "de")
  private val schema = "doc_id BIGINT, ts TIMESTAMP, text STRING"

  private var spark: SparkSession = _
  private var backlog: String = _
  private var hl: TextAnalysis.HashedLinearModel = _
  private var bloom: Curation.BloomFilter = _
  private var passNo = 0
  private var inputRows = 0L
  private var outputRows = 0L

  def setup(s: SparkSession): Unit = {
    spark = s
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val p = Paths.get(out, "stream", "backlog")
    Workloads.deleteTree(p)
    backlog = p.toString
    val pick = pmod(xxhash64(lit(seed), col("doc_id")), lit(100))
    val ts = timestamp_seconds(lit(1704067200L) + col("doc_id") * 10)
    val base = docs.select(col("doc_id"), ts.as("ts"),
      when(pick < 5, concat(col("text"), lit(" contact "), col("source"),
        lit("@example.com"))).otherwise(col("text")).as("text"), pick.as("pick"))
    val dups = base.filter(col("pick") >= 90)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        (col("ts") + expr("INTERVAL 5 SECONDS")).as("ts"), col("text"), col("pick"))
    base.unionByName(dups).drop("pick")
      .repartitionByRange(BacklogFiles, col("ts")).sortWithinPartitions("ts")
      .write.parquet(backlog)
    hl = TextAnalysis.hashedLinearTrain(docs, "doc_id", "text", "lang", buckets = 256)
    val bits = 1L << 18
    val evalFp = Curation.evalFingerprints(docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", K)
    bloom = Curation.collectBloom(Curation.bloomBuild(evalFp, "h", bits, 5, "gb"), bits, 5, "gb")
  }

  // The watermark delay exceeds the backlog's event-time span, so no
  // dedup state expires and no row is late within a drain: the stream
  // keeps exactly one doc per fingerprint, as the batch replay does.
  private def curated: DataFrame = StreamingOps.curateStream(
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(backlog),
    "doc_id", "ts", "text", minQuality = MinQuality, watermarkDelay = "1 day",
    gopher = Some(TextAnalysis.GopherRules()),
    hlGate = Some((hl, KeepLabels)),
    bloomDecontam = Some((bloom, K, 0)))

  /** One drain; returns the streaming run id. */
  private def drain(run: Run, sink: String, tag: String): Option[String] = {
    val ckpt = Paths.get(out, "stream", s"ckpt-$tag")
    Workloads.deleteTree(ckpt)
    run.op("drain", "drain")(run.tracer.span("curateStream", "streaming") {
      val q = curated.writeStream.format(sink).queryName(s"curated_$tag")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.runId.toString
    })
  }

  def check(run: Run): Unit = {
    val runId = drain(run, "memory", "check")
    runId.foreach(id => run.tracer.batchSeconds(id))
    val streamed = runId.map(_ => spark.table("curated_check"))
    val src = spark.read.schema(schema).parquet(backlog)
    inputRows = src.count()
    // batch replay: one doc per content fingerprint, then the same gates
    val fp = TextAnalysis.fingerprint(col("text"))
    val uniq = src.withColumn("fp", fp).groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
    val gated = uniq
      .filter(TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= MinQuality &&
        TextAnalysis.gopherKeep(col("text"), TextAnalysis.GopherRules()))
    val preds = TextAnalysis.hashedLinearPredict(hl, gated, "doc_id", "text")
    val want = gated.join(preds.select(col("id").as("doc_id"), col("pred")), "doc_id")
      .filter(col("pred").isin(KeepLabels.toSeq.sorted: _*))
      .filter(size(filter(Curation.windowFingerprintArray(col("text"), K),
        h => Curation.bloomMaybeContains(h, bloom))) <= 0)
      .select(col("fp"), col("pred"), Curation.piiRedact(col("text")).as("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = streamed.map(_.as("o").join(src.as("s"), col("o.id") === col("s.doc_id"))
      .select(TextAnalysis.fingerprint(col("s.text")), col("o.pred"), col("o.text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
      .getOrElse(Nil)
    outputRows = got.size
    run.check("stream_equals_batch_replay", got.toSet == want && got.size == want.size &&
      want.nonEmpty && want.size < inputRows, s"${got.size} streamed vs ${want.size} replayed")
  }

  def pass(run: Run): Unit = {
    val tag = s"pass-$passNo"
    passNo += 1
    drain(run, "noop", tag).foreach { id =>
      run.tracer.batchSeconds(id).foreach(s => run.sample("micro-batch", "batch", s))
    }
  }

  override def afterPass(run: Run): Map[String, Double] =
    Map("keep_ratio" -> outputRows.toDouble / math.max(1L, inputRows))
}
