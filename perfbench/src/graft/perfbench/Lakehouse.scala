package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.{HiveAcid, HiveAcidSink, HudiRO, HudiSink}
import graft.streaming.Streams

/** The lakehouse_cdc workload's tables and its model of them.
  *
  * Three tables, one per format, start from the same rows of `orders`
  * (keys below [[InitialKeys]]). Each pass commits one seeded CDC batch
  * into every table, through the Iceberg and Hudi upserts and the Hive
  * ACID insert-only commit, and reads each table back after its commit. A
  * batch holds [[BatchRows]] distinct keys drawn from the orders key
  * range; passes alternate a batch uniform over it and one skewed into a
  * seed-chosen hot window of two whole partitions, so a batch touches
  * either every partition or two of them. The read-back aggregate
  * (row count, key sum, value sum) is checked against the benchmark's own
  * model of each table's key state. */
final class Lakehouse(spark: SparkSession, dataDir: String, root: String, seed: Long) {
  import Lakehouse._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("p", IntegerType),
    StructField("v", LongType), StructField("seq", LongType)))

  private val upserted = Map("iceberg" -> mutable.LongMap[Long](), "hudi" -> mutable.LongMap[Long]())
  private var appended = Totals(0L, 0L, 0L)
  private val nextBatch = mutable.Map[String, Long]()

  private def dir(fmt: String) = s"$root/$fmt"

  private def rows(keys: Seq[Long], values: Seq[Long], batch: Long): Seq[Row] =
    keys.zip(values).map { case (k, v) => Row(k, (k / PartitionWidth).toInt, v, batch) }

  private def write(fmt: String, df: DataFrame, batch: Long): Unit = fmt match {
    case "iceberg" => Streams.icebergUpsertBatch(df, batch, dir(fmt), "k", "p")
    case "hudi" => Streams.hudiUpsertBatch(df, batch, dir(fmt), "k", Some("p"), Some("seq"))
    case "hive_acid" => Streams.hiveAcidCommitBatch(df, batch, dir(fmt))
  }

  private def read(fmt: String): DataFrame = fmt match {
    case "iceberg" => spark.read.format("graft.sources.IcebergSource").load(dir(fmt))
    case "hudi" => HudiRO.read(spark, dir(fmt))
    case "hive_acid" => HiveAcid.readInsertOnly(spark, dir(fmt), HiveAcid.ValidWriteIds(Long.MaxValue))
  }

  private def record(fmt: String, rs: Seq[Row]): Unit = upserted.get(fmt) match {
    case Some(m) => rs.foreach(r => m(r.getLong(0)) = r.getLong(2))
    case None => appended = Totals(appended.rows + rs.size,
      appended.keySum + rs.map(_.getLong(0)).sum, appended.valueSum + rs.map(_.getLong(2)).sum)
  }

  private def expected(fmt: String): Totals = upserted.get(fmt) match {
    case Some(m) => Totals(m.size.toLong, m.keysIterator.sum, m.valuesIterator.sum)
    case None => appended
  }

  /** (Re)creates the three tables from `orders` (set-up work). */
  def create(): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val init = Tables(spark, dataDir).orders.filter(col("o_orderkey") < InitialKeys)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect().toSeq
    val rs = rows(init.map(_.getLong(0)), init.map(_.getLong(1)), 0L)
    upserted.values.foreach(_.clear())
    appended = Totals(0L, 0L, 0L)
    Formats.foreach(nextBatch(_) = 1L)
    val df = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    for (fmt <- Formats) { write(fmt, df, 0L); record(fmt, rs) }
  }

  /** The batch keys: distinct, uniform or skewed into a hot window. */
  private def keys(rnd: scala.util.Random, skewed: Boolean): Seq[Long] = {
    val hot = rnd.nextInt((KeyRange - HotWindow) / PartitionWidth.toInt + 1) * PartitionWidth.toInt
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < BatchRows)
      out += (if (skewed) hot + rnd.nextInt(HotWindow) else rnd.nextInt(KeyRange)).toLong
    out.toSeq
  }

  /** One pass: one batch, uniform in odd passes (and the verification
    * pass 0) and skewed in even ones; per format a commit op followed by
    * its read-back op, the pairs shuffled by the seed. Batch ids are taken
    * when a commit runs (a table skips a batch id at or below its last). */
  def pass(passIndex: Int): Seq[Seq[Op]] = {
    val rnd = new scala.util.Random(seed * 1000003L + passIndex)
    val skewed = passIndex > 0 && passIndex % 2 == 0
    val ks = keys(rnd, skewed)
    val rs = rows(ks, ks.map(_ => rnd.nextInt(10000000).toLong), passIndex.toLong + 1)
    Formats.map(fmt => Seq(writeOp(fmt, rs, skewed), readOp(fmt, skewed)))
  }

  private def writeOp(fmt: String, rs: Seq[Row], skewed: Boolean): Op = {
    var seams = Map.empty[String, Double]
    Op(s"write_$fmt${if (skewed) "_skewed" else ""}", Op.Write,
      build = () => {
        val df = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
        () => {
          HudiSink.lastBatchIdCommitsScanned = None
          HudiSink.lastRewriteFooterProbes = None
          HudiSink.lastRewriteScan = None
          HiveAcidSink.lastBatchIdDeltasScanned = None
          write(fmt, df, nextBatch(fmt))
          nextBatch(fmt) += 1
          record(fmt, rs)
          seams = Seq(
            "sources.commits_scanned" -> HudiSink.lastBatchIdCommitsScanned,
            "sources.footer_probes" -> HudiSink.lastRewriteFooterProbes,
            "sources.rewrite_files" -> HudiSink.lastRewriteScan.map(_._1),
            "sources.deltas_scanned" -> HiveAcidSink.lastBatchIdDeltasScanned)
            .collect { case (k, Some(n)) => k -> n.toDouble }.toMap
        }
      },
      payloadBytes = rs.size.toLong * RowBytes,
      counters = () => seams)
  }

  private def readOp(fmt: String, skewed: Boolean): Op =
    Op(s"read_$fmt${if (skewed) "_skewed" else ""}", Op.Read, build = () => {
      val df = read(fmt)
      () => {
        val r = df.agg(count(lit(1)), sum(col("k")), sum(col("v"))).head()
        val got = Totals(r.getLong(0), r.getLong(1), r.getLong(2))
        val want = expected(fmt)
        if (got != want) throw new WrongResult(s"$fmt read-back $got, model $want")
      }
    })
}

object Lakehouse {
  val Formats: Seq[String] = Seq("iceberg", "hudi", "hive_acid")
  val InitialKeys = 10000
  val KeyRange = 12000
  val PartitionWidth = 600L
  val HotWindow = 1200 // two partitions
  val BatchRows = 500
  /** Payload of one CDC row: k, v and seq as 8-byte longs, p as a 4-byte int. */
  val RowBytes = 28L

  final case class Totals(rows: Long, keySum: Long, valueSum: Long)
}
