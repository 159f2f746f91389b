package graft.sources

import java.util

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing [[MemoryStore]] tables to SQL DDL/DML — the
  * engine's analog of the reference's connector-metadata SPI
  * (presto-memory `MemoryMetadata.java`: create/drop/rename/list), and
  * the piece that lets `DELETE FROM` resolve: Spark only routes DML to
  * a connector through a [[TableCatalog]] identifier, never through
  * `spark.read.format(...)`.
  *
  * Registered by GraftSession as `spark.sql.catalog.graft_mem_cat`, so
  * `CREATE TABLE graft_mem_cat.default.t ...`, `INSERT INTO`,
  * `DELETE FROM ... WHERE ...`, and `DROP TABLE` all work against the
  * in-memory connector through public Spark SQL.
  */
class MemoryCatalog extends TableCatalog {
  private var catalogName = "graft_mem_cat"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = if (namespace.isEmpty) "" else namespace.mkString(".") + "."
    MemoryStore.names().filter(_.startsWith(prefix))
      .map(n => Identifier.of(namespace, n.stripPrefix(prefix))).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    MemoryStore.exists(key(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!MemoryStore.exists(key(ident))) throw new NoSuchTableException(ident)
    new MemoryTable(key(ident), null)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (MemoryStore.exists(key(ident))) throw new TableAlreadyExistsException(ident)
    MemoryStore.create(key(ident), schema)
    new MemoryTable(key(ident), schema)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft_mem: ALTER TABLE not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val existed = MemoryStore.exists(key(ident))
    MemoryStore.drop(key(ident))
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!MemoryStore.exists(key(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (MemoryStore.exists(key(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    MemoryStore.rename(key(oldIdent), key(newIdent))
  }
}

/** Driver-side evaluation of DSv2 delete predicates against stored
  * unsafe rows (reference: `DeleteOperator.java` applies the filter
  * per-page on workers; here the store is driver-local by design —
  * see MemorySource scaladoc — so the anti-filter runs where the rows
  * live. A production variant would broadcast the same [[Filter]]
  * tree to the storage service.)
  *
  * Values inside [[Filter]] are external Scala types (String, not
  * UTF8String), so stored values are converted out of their catalyst
  * form before comparison; comparisons use the column's type ordering.
  */
object MemoryFilterEval {
  def supported(f: Filter): Boolean = f match {
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith | _: StringEndsWith | _: StringContains |
         AlwaysTrue() | AlwaysFalse() => true
    case _ => false
  }

  /** SQL three-valued logic: Some(bool) is a definite verdict, None is
    * NULL (the row survives a DELETE, matching DuckDB/Presto).
    */
  def eval(f: Filter, schema: StructType, row: UnsafeRow): Option[Boolean] = {
    def valueOf(attr: String): Option[Any] = {
      val i = schema.fieldIndex(attr)
      if (row.isNullAt(i)) None
      else Some(CatalystTypeConverters.createToScalaConverter(schema(i).dataType)
        .apply(row.get(i, schema(i).dataType)))
    }
    def isIntegral(n: Number): Boolean = n match {
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
           _: java.lang.Long => true
      case _ => false
    }
    def toExact(n: Number): java.math.BigDecimal = n match {
      case d: java.math.BigDecimal => d
      case n if isIntegral(n) => java.math.BigDecimal.valueOf(n.longValue())
      // doubleValue on a >2^53 long would silently round; only floats reach here.
      case n => java.math.BigDecimal.valueOf(n.doubleValue())
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
        java.lang.Long.compare(x.longValue(), y.longValue())
      case (x: Number, y: Number) => toExact(x).compareTo(toExact(y))
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => x.compareTo(y)
      case _ => throw new IllegalArgumentException(
        s"graft_mem delete: cannot compare ${a.getClass} with ${b.getClass}")
    }
    def binary(attr: String, v: Any)(p: Int => Boolean): Option[Boolean] =
      valueOf(attr).map(x => p(cmp(x, v)))
    f match {
      case AlwaysTrue() => Some(true)
      case AlwaysFalse() => Some(false)
      case And(l, r) => (eval(l, schema, row), eval(r, schema, row)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l, schema, row), eval(r, schema, row)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(c) => eval(c, schema, row).map(!_)
      case EqualTo(a, v) => binary(a, v)(_ == 0)
      case EqualNullSafe(a, v) => valueOf(a) match {
        case None => Some(v == null)
        case Some(x) => Some(v != null && cmp(x, v) == 0)
      }
      case GreaterThan(a, v) => binary(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => binary(a, v)(_ >= 0)
      case LessThan(a, v) => binary(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => binary(a, v)(_ <= 0)
      // SQL IN three-valued logic: a non-null probe with no match is FALSE
      // only when the list has no NULLs; with a NULL present the verdict is
      // NULL, so Not(In(...)) must not delete the row (x NOT IN (1, NULL)).
      case In(a, vs) => valueOf(a).flatMap { x =>
        if (vs.exists(v => v != null && cmp(x, v) == 0)) Some(true)
        else if (vs.contains(null)) None
        else Some(false)
      }
      case IsNull(a) => Some(valueOf(a).isEmpty)
      case IsNotNull(a) => Some(valueOf(a).nonEmpty)
      case StringStartsWith(a, p) =>
        valueOf(a).map(_.asInstanceOf[String].startsWith(p))
      case StringEndsWith(a, p) =>
        valueOf(a).map(_.asInstanceOf[String].endsWith(p))
      case StringContains(a, p) =>
        valueOf(a).map(_.asInstanceOf[String].contains(p))
      case other => throw new UnsupportedOperationException(
        s"graft_mem delete: unsupported filter $other")
    }
  }
}
