package graft

import org.apache.spark.sql.SparkSession
import java.sql.Timestamp

/** Typed schemas for the driver-generated TPC-H-ish testdata
  * (/root/testdata/sf0.001 etc., see TESTDATA.md). These play the role of the
  * user-defined `class Users(cn.Schema)` declarations in the reference's
  * examples (reference examples/basic_usage.py). */
object tables {

  object Lineitem extends GSchema {
    val l_orderkey      = col[Long]("l_orderkey")
    val l_partkey       = col[Long]("l_partkey")
    val l_suppkey       = col[Long]("l_suppkey")
    val l_linenumber    = col[Int]("l_linenumber")
    val l_quantity      = col[Double]("l_quantity")
    val l_extendedprice = col[Double]("l_extendedprice")
    val l_discount      = col[Double]("l_discount").field(GField(ge = Some(0.0), le = Some(1.0)))
    val l_tax           = col[Double]("l_tax")
    val l_returnflag    = col[String]("l_returnflag")
    val l_linestatus    = col[String]("l_linestatus")
    val l_shipdate      = col[Timestamp]("l_shipdate")
  }

  object Orders extends GSchema {
    val o_orderkey      = col[Long]("o_orderkey").field(GField(unique = true))
    val o_custkey       = col[Long]("o_custkey")
    val o_orderstatus   = col[String]("o_orderstatus")
    val o_totalprice    = col[Double]("o_totalprice").field(GField(gt = Some(0.0)))
    val o_orderdate     = col[Timestamp]("o_orderdate")
    val o_orderpriority = col[String]("o_orderpriority")
  }

  object Customer extends GSchema {
    val c_custkey    = col[Long]("c_custkey").field(GField(unique = true))
    val c_name       = col[String]("c_name")
    val c_nationkey  = col[Int]("c_nationkey")
    val c_acctbal    = col[Double]("c_acctbal")
    val c_mktsegment = col[String]("c_mktsegment")
  }

  object Supplier extends GSchema {
    val s_suppkey   = col[Long]("s_suppkey")
    val s_name      = col[String]("s_name")
    val s_nationkey = col[Int]("s_nationkey")
    val s_acctbal   = col[Double]("s_acctbal")
  }

  object Part extends GSchema {
    val p_partkey     = col[Long]("p_partkey")
    val p_name        = col[String]("p_name")
    val p_brand       = col[String]("p_brand")
    val p_type        = col[String]("p_type")
    val p_size        = col[Int]("p_size")
    val p_retailprice = col[Double]("p_retailprice")
  }

  object Nation extends GSchema {
    val n_nationkey = col[Int]("n_nationkey")
    val n_name      = col[String]("n_name")
    val n_regionkey = col[Int]("n_regionkey")
  }

  object Region extends GSchema {
    val r_regionkey = col[Int]("r_regionkey")
    val r_name      = col[String]("r_name")
  }

  object Events extends GSchema {
    val event_id   = col[Long]("event_id")
    val ts         = col[Timestamp]("ts")
    val user_id    = col[Long]("user_id")
    val event_type = col[String]("event_type")
    val value      = colNullable[Double]("value")
    val props      = colNullable[String]("props")
  }

  object Documents extends GSchema {
    val doc_id  = col[Long]("doc_id")
    val text    = col[String]("text")
    val lang    = col[String]("lang")
    val source  = col[String]("source")
    val n_chars = col[Long]("n_chars")
  }

  object Embeddings extends GSchema {
    val vec_id    = col[Long]("vec_id")
    val embedding = col[Seq[Float]]("embedding")
    val label     = col[Int]("label")
  }

  def lineitem(s: SparkSession, dir: String): TFrame[Lineitem.type] =
    Tio.readParquet(s, s"$dir/lineitem.parquet", Lineitem)
  def orders(s: SparkSession, dir: String): TFrame[Orders.type] =
    Tio.readParquet(s, s"$dir/orders.parquet", Orders)
  def customer(s: SparkSession, dir: String): TFrame[Customer.type] =
    Tio.readParquet(s, s"$dir/customer.parquet", Customer)
  def supplier(s: SparkSession, dir: String): TFrame[Supplier.type] =
    Tio.readParquet(s, s"$dir/supplier.parquet", Supplier)
  def part(s: SparkSession, dir: String): TFrame[Part.type] =
    Tio.readParquet(s, s"$dir/part.parquet", Part)
  def nation(s: SparkSession, dir: String): TFrame[Nation.type] =
    Tio.readParquet(s, s"$dir/nation.parquet", Nation)
  def region(s: SparkSession, dir: String): TFrame[Region.type] =
    Tio.readParquet(s, s"$dir/region.parquet", Region)
  /** events.parquet's `ts` column has shipped under two physical parquet
    * encodings, both valid, and a reader that asserts one of them breaks on
    * the other (this is the reference's boundary-validation lesson —
    * reference validation.py checks dtypes at data boundaries instead of
    * assuming them). Branch on the SCANNED dtype:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader only admits it as a raw
    *    Long under `spark.sql.legacy.parquet.nanosAsLong=true` (set at
    *    session build by [[GraftSession]] — a reader must never mutate the
    *    running session). Truncate nanos → micros, the same truncation
    *    DuckDB applies.
    *  - timestamp[us] (with or without UTC adjustment): arrives as
    *    TimestampType / TimestampNTZType; cast straight to the session
    *    (UTC) timestamp — DuckDB reads the same file as naive micros, so
    *    values align exactly.
    *
    * Either way the typed frame presents `ts: Timestamp`. */
  def events(s: SparkSession, dir: String): TFrame[Events.type] = {
    import org.apache.spark.sql.functions.{col => fcol, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    // On a session WITHOUT the nanosAsLong conf, a TIMESTAMP(NANOS) file
    // fails the footer's schema conversion right here ("Illegal Parquet
    // type: INT64 (TIMESTAMP(NANOS,...))") — before any dtype can be
    // matched — so the GraftSession pointer must wrap the scan itself.
    // (With the conf set, the same file scans as a plain Long.)
    val scanned =
      try Parquet.read(s, s"$dir/events.parquet")
      catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("TIMESTAMP(NANOS") =>
          throw new IllegalArgumentException(
            "events.parquet carries TIMESTAMP(NANOS) — needs " +
              "spark.sql.legacy.parquet.nanosAsLong=true at session build; " +
              "create the session via graft.GraftSession (readers do not mutate conf)", e)
      }
    val raw = scanned.schema("ts").dataType match {
      // nanos-as-Long (conf was set at session build): truncate to micros
      case LongType => scanned.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => scanned
      case TimestampNTZType =>
        scanned.withColumn("ts", fcol("ts").cast(TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.parquet ts: unsupported physical type $other — expected " +
            "TIMESTAMP(NANOS) (as Long), timestamp[us], or timestamp[us, UTC]")
    }
    Tio.fromDF(raw, Events)
  }
  def documents(s: SparkSession, dir: String): TFrame[Documents.type] =
    Tio.readParquet(s, s"$dir/documents.parquet", Documents)
  def embeddings(s: SparkSession, dir: String): TFrame[Embeddings.type] =
    Tio.readParquet(s, s"$dir/embeddings.parquet", Embeddings)
}
