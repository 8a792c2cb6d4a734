package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Fixtures, SparkEntry}

/** One operation of a pass. `build` does the operation's construction
  * (for a query, the builder call) and returns its action; the action
  * throws when the operation's output is wrong. `prepare` and `cleanup`
  * run untimed around it. A query op also has a `fingerprint` that the
  * untimed verification pass compares with the recorded one. */
final case class Op(name: String, kind: String, build: () => (() => Unit),
                    prepare: () => Unit = () => (), cleanup: () => Unit = () => (),
                    fingerprint: Option[() => Fingerprint] = None,
                    payloadBytes: Long = 0L,
                    counters: () => Map[String, Double] = () => Map.empty)

object Op {
  val Query = "query"
  val Write = "write"
  val Read = "read"
}

final class WrongResult(msg: String) extends RuntimeException(msg)

/** Row count plus an order-independent hash of a result (the sum of the
  * rows' xxhash64 values, exact). */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Fingerprint = {
    // positional names: a result may carry two columns of one name
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // maps are not hashable; their JSON text is
    val cols = d.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name))
    val r = d.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** A workload: the registry queries of each pass, the number of untimed
  * warm-up passes before timing starts, and the nominal time of one warm
  * pass (4 cores, sf0.1), which turns `--seconds` into a pass count. */
final case class Workload(name: String, queries: Seq[String], warmPasses: Int,
                          nominalPassS: Double)

/** The benchmark's workloads. Each runs a fixed set of operations per
  * pass; the seed permutes their order per pass and, for lakehouse_cdc,
  * generates the change-data-capture batches. The query sets are fixed
  * subsets of the registry families, sized so that a pass takes a few
  * seconds at sf0.1 on 4 cores. */
object Workloads {
  val all: Seq[Workload] = Seq(
    // training-data pipeline operators: custom codegen expressions, typed
    // aggregates, CacheSlot persists and opted-in input spreads; the most
    // task work and shuffle bytes per query
    Workload("pipeline_batch", Seq(
      "dedup_containment", "dedup_minhash_lsh", "pipe_token_fertility",
      "text_langid", "mm_image_phash"), 3, 2.1),
    // CDC batches through the three lakehouse writers (see Lakehouse) plus
    // the merge query; the src_*, m4_* and m5_* queries write their fixtures
    // to fixed paths outside the benchmark's checkout, so the lakehouse read
    // paths are measured through the CDC read-backs instead
    Workload("lakehouse_cdc", Seq("merge_upsert"), 2, 3.0))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  /** A registry query run to completion through the noop sink. */
  def queryOp(spark: SparkSession, dataDir: String, name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, Op.Query,
      build = () => {
        val df = fn(spark, dataDir)
        () => df.write.format("noop").mode("overwrite").save()
      },
      prepare = () => Fixtures.prepare.get(name).foreach(_(spark, dataDir)),
      cleanup = () => Fixtures.cleanup.get(name).foreach(_(spark, dataDir)),
      fingerprint = Some(() => Fingerprint.of(fn(spark, dataDir))))
  }
}
