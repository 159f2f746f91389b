package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import java.util.OptionalLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A generating connector on Spark's DataSource V2 SPI — the engine's
  * analog of the reference's storage-free TPC-H connector
  * (presto-tpch `TpchConnectorFactory.java` / airlift tpch row
  * generators): rows are synthesized at scan time from the split's id
  * range, no files anywhere.
  *
  * The point is the SPI surface itself (SURVEY §2.1, previously
  * declared out), expressed Spark-first:
  *  - `planInputPartitions` splits the id range into `parts`
  *    independent generators — the connector-parallelism story that a
  *    1000-executor scan needs (same role as presto-tpch's
  *    `splitsPerNode`);
  *  - `SupportsPushDownRequiredColumns` prunes generation to the
  *    projected columns (ReadSchema);
  *  - `SupportsPushDownFilters` narrows the generated id range for
  *    range/equality predicates on `id` — the scan never materializes
  *    filtered-out rows, Presto's `TupleDomain` pushdown in miniature.
  *
  * Schema is deterministic and closed-form (`val` = id/2,
  * `tag` = 'tag_' || id%7), so a DuckDB oracle recomputes scans
  * exactly from `range()`.
  *
  * Usage: `spark.read.format("graft_seq").option("rows", n)
  * .option("parts", p).load()`.
  */
class SequenceSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft_seq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SequenceTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SequenceTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("parts", "4").toInt)
}

object SequenceTable {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("val", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false)))
}

class SequenceTable(rows: Long, parts: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_seq($rows)"
  override def schema(): StructType = SequenceTable.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SequenceScanBuilder(rows, parts)
}

class SequenceScanBuilder(rows: Long, parts: Int) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var lo = 0L
  private var hi = rows
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SequenceTable.schema
  private var aggResult: Option[(StructType, InternalRow)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThan("id", v: Long) => { lo = math.max(lo, v + 1); true }
      case GreaterThanOrEqual("id", v: Long) => { lo = math.max(lo, v); true }
      case LessThan("id", v: Long) => { hi = math.min(hi, v); true }
      case LessThanOrEqual("id", v: Long) => { hi = math.min(hi, v + 1); true }
      case EqualTo("id", v: Long) => { lo = math.max(lo, v); hi = math.min(hi, v + 1); true }
      case _ => false
    }
    pushed = accepted
    rejected // residual filters stay in the plan; range ones are consumed here
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (SURVEY §2.1 — the `ConnectorMetadata` stats/
    * aggregate capability): every column is closed-form over the
    * (already filter-narrowed) id range [lo, hi), so global COUNT /
    * MIN / MAX on `id`/`val` are computable in O(1) WITHOUT generating
    * a single row. Complete pushdown: Spark only calls this after ALL
    * filters were pushed into the scan (a residual post-scan filter
    * disables aggregate pushdown in V2ScanRelationPushDown), so the
    * closed forms are exact, not partial.
    */
  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames.head)
    case _ => None
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    tryAggregate(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val r = tryAggregate(aggregation)
    r.foreach(v => aggResult = Some(v))
    r.isDefined
  }

  private def tryAggregate(agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val n = math.max(hi - lo, 0L)
    val perFn: Array[Option[(DataType, Any)]] =
      agg.aggregateExpressions().map {
        case _: CountStar => Some((LongType, n))
        // all three columns are non-nullable, so COUNT(col) == COUNT(*)
        case c: Count if !c.isDistinct && colOf(c.column).isDefined =>
          Some((LongType, n))
        case m: Min => colOf(m.column) match {
          case Some("id") => Some((LongType, if (n == 0) null else lo))
          case Some("val") => Some((DoubleType, if (n == 0) null else lo * 0.5))
          case _ => None
        }
        case m: Max => colOf(m.column) match {
          case Some("id") => Some((LongType, if (n == 0) null else hi - 1))
          case Some("val") => Some((DoubleType, if (n == 0) null else (hi - 1) * 0.5))
          case _ => None
        }
        case _ => None
      }
    if (perFn.exists(_.isEmpty)) None
    else {
      val fields = perFn.zipWithIndex.map { case (f, i) =>
        StructField(s"agg_$i", f.get._1, nullable = true)
      }
      Some((StructType(fields.toIndexedSeq),
        InternalRow.fromSeq(perFn.map(_.get._2).toIndexedSeq)))
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new SequenceAggScan(schema, row)
    case None => new SequenceScan(lo, hi, parts, required)
  }
}

/** Single-row scan carrying a completely-pushed-down aggregate result. */
class SequenceAggScan(aggSchema: StructType, row: InternalRow)
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_seq pushed-aggregate ${aggSchema.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SequenceRange(0, 1))
  override def createReaderFactory(): PartitionReaderFactory =
    // ship plain values, not the InternalRow: the factory crosses the
    // driver→executor serialization boundary
    new SequenceAggReaderFactory(
      Array.tabulate(aggSchema.length)(i =>
        if (row.isNullAt(i)) null
        else aggSchema(i).dataType match {
          case LongType => Long.box(row.getLong(i))
          case DoubleType => Double.box(row.getDouble(i))
        }))
}

class SequenceAggReaderFactory(values: Array[Any])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val f = !emitted; emitted = true; f }
      override def get(): InternalRow = InternalRow.fromSeq(values.toIndexedSeq)
      override def close(): Unit = ()
    }
}

case class SequenceRange(lo: Long, hi: Long) extends InputPartition

class SequenceScan(lo: Long, hi: Long, parts: Int, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_seq[$lo,$hi) cols=${required.fieldNames.mkString(",")}"

  /** Exact statistics (SURVEY §2.1 — `ConnectorMetadata.getTableStatistics`
    * analog): the generator knows its row count in closed form AFTER
    * filter pushdown narrowed [lo, hi), so the optimizer's broadcast /
    * join-reorder decisions see the filtered size, not the raw table
    * size — the DSv2 equivalent of Presto's filtered TableStatistics.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n = math.max(hi - lo, 0L)
    private val rowBytes = required.fields.map(_.dataType match {
      case StringType => 16L
      case _ => 8L
    }).sum.max(8L)
    override def sizeInBytes(): OptionalLong = OptionalLong.of(n * rowBytes)
    override def numRows(): OptionalLong = OptionalLong.of(n)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(hi - lo, 0L)
    if (n == 0) return Array.empty
    val k = math.min(parts.toLong, n).toInt
    Array.tabulate(k) { i =>
      SequenceRange(lo + i * n / k, lo + (i + 1) * n / k)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SequenceReaderFactory(required)
}

class SequenceReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val SequenceRange(lo, hi) = p.asInstanceOf[SequenceRange]
    // generation is pruned to the projected columns — an unprojected
    // column costs nothing, like a columnar scan skipping a page
    val gens: Array[Long => Any] = required.fieldNames.map {
      case "id" => (id: Long) => id
      case "val" => (id: Long) => id * 0.5
      case "tag" => (id: Long) => UTF8String.fromString("tag_" + (id % 7))
    }
    new PartitionReader[InternalRow] {
      private var cur = lo - 1
      override def next(): Boolean = { cur += 1; cur < hi }
      override def get(): InternalRow =
        InternalRow.fromSeq(gens.map(g => g(cur)).toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}
