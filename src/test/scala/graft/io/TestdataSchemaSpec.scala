package graft.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ops.Events

/** Canary over /root/testdata's PHYSICAL schemas: the harness regenerates
  * the parquet between rounds and has already changed column annotations
  * once (events.ts: INT64 nanos → TIMESTAMP(MICROS) — broke 6 declared
  * queries silently). This suite opens every table the engine declares
  * and asserts (a) the columns the queries consume exist, and (b) the
  * type-sensitive readers actually normalize what is on disk today, so a
  * regeneration shows up as one red spec, not a shrunk query surface. */
class TestdataSchemaSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val requiredCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey", "p_name", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
      "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  test("every declared table opens and carries the columns the queries consume") {
    for ((table, cols) <- requiredCols) {
      val df = spark.read.parquet(s"$dir/$table.parquet")
      val have = df.columns.toSet
      val missing = cols.filterNot(have)
      assert(missing.isEmpty, s"$table is missing ${missing.mkString(", ")}")
      assert(df.limit(1).count() === 1, s"$table is empty")
    }
  }

  test("Io.readParquet infers what spark.read.parquet infers on every table, once") {
    for (table <- requiredCols.keys) {
      val path = s"$dir/$table.parquet"
      val read = Io.readParquet(spark, path)
      assert(read.schema === spark.read.parquet(path).schema, table)
      val (again, jobs) = withJobCount(Io.readParquet(spark, path))
      assert(jobs === 0, s"$table: the second read ran a footer job")
      assert(again.schema === read.schema, table)
    }
  }

  test("events.ts physical type is one the engine normalizes to epoch-nanos") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val physical = ev.schema("ts").dataType
    assert(
      physical == LongType || physical == TimestampType || physical == TimestampNTZType,
      s"events.ts arrived as unhandled $physical — extend Events.withTsNanos")
    val ts = Events.withTsNanos(ev)
    assert(ts.schema("ts").dataType === LongType)
    // epoch-nanos of a plausible date (2000..2100), not micros/millis off
    // by 1000×: a unit slip moves the value out of this window entirely
    val t0 = ts.agg(min("ts")).head().getLong(0)
    assert(t0 > 946684800L * 1000000000L && t0 < 4102444800L * 1000000000L,
      s"min(ts)=$t0 is not epoch-nanos in 2000..2100 — unit regression")
  }

  test("embeddings.embedding is array<float> and non-degenerate") {
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(em.schema("embedding").dataType === ArrayType(FloatType, true) ||
      em.schema("embedding").dataType === ArrayType(FloatType, false))
    val dims = em.select(size(col("embedding")).as("d")).agg(
      min("d").as("lo"), max("d").as("hi")).head()
    assert(dims.getInt(0) === dims.getInt(1) && dims.getInt(0) > 0,
      s"embedding dims vary ${dims.getInt(0)}..${dims.getInt(1)}")
  }

  test("the six events-family batch entries run end-to-end on today's files") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    assert(Events.hourlyAgg(ev).limit(1).count() === 1)
    assert(Events.sessionize(ev).limit(1).count() === 1)
    assert(Events.retention(ev).limit(1).count() === 1)
    assert(Events.gapFillHourly(ev).limit(1).count() === 1)
    assert(graft.ops.RangeJoin.assignSessions(ev).limit(1).count() === 1)
    assert(Events.funnel(ev).limit(1).count() === 1)
  }
}
