package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.sources.ParquetTable
import graft.sql.GraftSql

/** One timed operation, with the keyed reads that check it; `ok` is false
  * when any answer was wrong.
  */
final case class Sample(opS: Double, readS: Seq[Double], rows: Long, ok: Boolean)

trait Workload {
  /** Build the workload's state from its seed; false when its answers were wrong. */
  def setup(): Boolean
  /** Untimed operations after set-up, so JIT and caches are warm. */
  def warmupOps: Int
  def op(i: Int, tr: Tracer): Sample
  /** End-of-run check over the final state; one attempted operation. */
  def finalCheck(): Boolean = true
  /** The directory the operations write under. */
  def storageRoot: String
  /** Bytes of the live data under [[storageRoot]], for space amplification. */
  def liveBytes(): Long
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new File(dir))
  }

  def filesBytes(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
}

import Workload._

/** `etl_daily`: one `Pipeline.run` per day's drop, archive on. */
final class EtlDaily(spark: SparkSession, seed: Long, root: String, sizes: Sizes) extends Workload {
  private val gen = new EtlGen(seed, sizes.products, sizes.orders, sizes.itemsPerOrder)
  private val cfg = Pipeline.Config(
    inputDir = s"$root/drop", outputDir = s"$root/lake", rejectedDir = s"$root/lake/rejected",
    archiveDir = Some(s"$root/archive"))
  private var day = 0

  def setup(): Boolean = op(0, new Tracer(spark, tracedRun = false)).ok
  def warmupOps: Int = 0
  def storageRoot: String = cfg.outputDir
  def liveBytes(): Long = Schemas.all.map(s =>
    filesBytes(spark, ParquetTable.read(spark, Pipeline.tablePath(cfg, s.name)).inputFiles.toSeq)).sum

  /** The body of `Pipeline.run`, composed from its public steps, so each step is a span. */
  private def composedRun(tr: Tracer): Seq[Pipeline.TableResult] = tr("pipeline.run") {
    val refs = mutable.Map.empty[String, DataFrame]
    val results = Schemas.all.map { spec =>
      val r = tr(s"pipeline.process.${spec.name}") {
        Pipeline.processDataset(spark, cfg, spec, refs.toMap)
      }
      refs(spec.name) = ParquetTable.read(spark, Pipeline.tablePath(cfg, spec.name))
      r
    }
    tr("pipeline.register")(Pipeline.registerTables(spark, cfg))
    tr("pipeline.smoke")(Pipeline.smokeQueries(spark).foreach(_.collect()))
    tr("pipeline.archive")(cfg.archiveDir.foreach(Pipeline.archive(cfg.inputDir, _)))
    results
  }

  def op(i: Int, tr: Tracer): Sample = {
    val expected = gen.drop(day, cfg.inputDir)
    day += 1
    val (got, opS) = timed(if (tr.enabled) composedRun(tr) else Pipeline.run(spark, cfg))
    // an analyst's read of each corrected (or new) order, through the catalog
    val reads = gen.probeKeys.map { k =>
      val (rows, s) = timed(tr("sources.catalog_read") {
        spark.sql(s"SELECT total_amount FROM clean_orders WHERE order_id = $k").collect()
      })
      val ok = rows.length == 1 && near(rows(0).getDouble(0), gen.orderState(k).cents / 100.0)
      if (!ok) System.err.println(s"etl_daily: order $k read ${rows.mkString(",")}")
      (s, ok)
    }
    if (got != expected) System.err.println(s"etl_daily: day ${day - 1} got $got expected $expected")
    Sample(opS, reads.map(_._1), gen.inputRows, got == expected && reads.forall(_._2))
  }
}

/** `upsert_read`: small merges into a month-partitioned versioned table,
  * each followed by reads of keys it wrote, with periodic maintenance.
  */
final class UpsertRead(spark: SparkSession, seed: Long, root: String, sizes: Sizes) extends Workload {
  private val gen = new UpsertGen(seed, sizes.upsertRows, sizes.upsertMonths)
  private val path = s"$root/lake/orders"
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", IntegerType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType), StructField("month", StringType)))
  private var commits = 0

  private def frame(rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 4), schema)

  def setup(): Boolean = {
    ParquetTable.createVersioned(frame(gen.base()), path, Seq("month"))
    true
  }
  // merges keep getting faster for about six commits after the set-ups
  def warmupOps: Int = 6
  def storageRoot: String = path
  def liveBytes(): Long = filesBytes(spark, ParquetTable.read(spark, path).inputFiles.toSeq)

  /** version → (rows, amount in cents) after each merge, for time travel. */
  private val versionTruth = mutable.Map.empty[Long, (Long, Long)]
  private val Totals = "count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT))"

  def op(i: Int, tr: Tracer): Sample = {
    val rows = gen.batch(commits, sizes.upsertBatch)
    val batch = frame(rows)
    val ((), opS) = timed(tr("sources.merge")(
      ParquetTable.merge(spark, path, batch, Seq("o_orderkey"), Seq("month"))))
    commits += 1
    versionTruth(ParquetTable.currentVersion(spark, path).get) = (gen.price.size.toLong, gen.checksum)
    // read-your-write through the SQL front door, for a few keys the merge wrote
    val reads = (0 until sizes.readsPerOp).map { k =>
      val key = rows((i * 7 + k * 13) % rows.size).head.asInstanceOf[Long]
      val (got, s) = timed(tr("sql.read")(GraftSql.sql(spark,
        s"SELECT o_totalprice FROM graft.`$path` WHERE o_orderkey = $key").collect()))
      val ok = got.length == 1 && near(got(0).getDouble(0), gen.price(key) / 100.0)
      if (!ok) System.err.println(s"upsert_read: key $key read ${got.mkString(",")}")
      (s, ok)
    }
    var ok = reads.forall(_._2)
    if (commits % sizes.maintainEvery == 0) {
      // the version before the last merge, read back through time travel
      val v = ParquetTable.versions(spark, path).filter(versionTruth.contains).dropRight(1).last
      val t = tr("sql.travel", always = true)(GraftSql.sql(spark,
        s"SELECT $Totals FROM graft.`$path` VERSION AS OF $v").collect())(0)
      if ((t.getLong(0), t.getLong(1)) != versionTruth(v)) {
        System.err.println(s"upsert_read: version $v read $t expected ${versionTruth(v)}")
        ok = false
      }
      tr("sources.maintain", always = true) {
        ParquetTable.compactSmall(spark, path)
        ParquetTable.vacuum(spark, path)
      }
    }
    Sample(opS, reads.map(_._1), rows.size, ok)
  }

  override def finalCheck(): Boolean = {
    val r = ParquetTable.read(spark, path).selectExpr(Totals.split(", "): _*).collect()(0)
    val ok = r.getLong(0) == gen.price.size && r.getLong(1) == gen.checksum
    if (!ok) System.err.println(s"upsert_read: final $r expected ${gen.price.size}, ${gen.checksum}")
    ok
  }
}

/** Input sizes of the workloads. */
final case class Sizes(
    products: Int = 2000, orders: Int = 4000, itemsPerOrder: Int = 5,
    upsertRows: Int = 150000, upsertMonths: Int = 80, upsertBatch: Int = 2000, maintainEvery: Int = 4,
    readsPerOp: Int = 2)
