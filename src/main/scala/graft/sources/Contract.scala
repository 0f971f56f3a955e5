package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

import graft.EngineConf

/** Data-contract preflight (round-10 postmortem: the driver regenerated
  * `/root/testdata` with `events.ts` re-encoded from TIMESTAMP(NANOS) to
  * timestamp[us], and 41 queries died one by one as analysis exceptions).
  *
  * [[probe]] diffs each table's parquet footer against the committed
  * expectation below, plus two cheap single-column value scans for the two
  * drifts a footer cannot show:
  *   - embedding dimensionality (list lengths are not in the footer) — an
  *     aggregate min/max/null-count over `size(embedding)`, so a ragged or
  *     null vector anywhere in the table is caught, not just in row 1;
  *   - `events.ts` plausibility — `normalizeTs` assumes an int64 ts is
  *     NANOS; a regeneration to plain int64 MICROS or MILLIS would pass
  *     every footer check and silently shift every timestamp 1000×. The
  *     probe normalizes and checks min/max land inside [2000, 2100).
  * Callers (Verify/Bench) print the lines and record them in their error
  * artifacts, then still run every query: a drifted column only breaks the
  * queries that touch it, so a hard stop here would needlessly darken the
  * untouched surface. `tools/dual_scale_gate.sh` independently fails on a
  * non-empty errors.json, so drift that breaks no query still reds the gate.
  *
  * The accepted-type sets are deliberately a little wide where the engine is
  * genuinely tolerant: every `ts`-shaped column accepts all three encodings
  * [[Tables.normalizeTs]] handles (nanos-as-long under the legacy conf,
  * TIMESTAMP, TIMESTAMP_NTZ). Everything else is pinned to the encoding the
  * oracles were validated against (TESTDATA.md, re-probed 2026-08-13).
  */
object Contract {

  private val tsLike = Set("timestamp", "timestamp_ntz", "bigint")

  /** table -> (column -> accepted Spark `simpleString` type names). */
  val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> tsLike, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> tsLike),
    "events" -> Seq("event_id" -> Set("bigint"), "ts" -> tsLike,
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  /** The embedding dimensionality every LSH/IVF plane generator AND the
    * static oracle SQL encode. A regenerated corpus with a different dim
    * would not fail any schema check (parquet footers carry no list
    * length) — it would be silently WRONG: plane dot products would fold
    * over the shorter of the two lengths. So the probe pays one extra
    * single-column aggregate to pin it for EVERY row. */
  val EmbeddingDim = 64

  /** `events.ts` must land in this window after [[Tables.normalizeTs]];
    * an int64 regeneration in micros or millis (normalizeTs assumes nanos)
    * shifts values 1000×/10⁶× and lands far outside it. */
  private[sources] val TsWindowMicros: (Long, Long) =
    (946684800000000L, 4102444800000000L) // 2000-01-01 .. 2100-01-01 UTC

  /** Schema diff of every expected table under `dir`, plus the
    * [[EmbeddingDim]] and ts-plausibility value checks. Returns one line
    * per drift; empty = contract holds. Adopts [[graft.EngineConf.Read]]
    * as [[Tables.events]] does, so a nanos-encoded ts surfaces as bigint
    * (accepted) instead of failing the footer read itself; a session
    * that already holds the group is left unchanged. */
  def probe(spark: SparkSession, dir: String): Seq[String] = {
    EngineConf.adopt(spark, EngineConf.Read)
    val dimDrift = Try {
      spark.read.parquet(s"$dir/embeddings.parquet")
        .agg(min(size(col("embedding"))).as("mn"),
          max(size(col("embedding"))).as("mx"),
          count(when(col("embedding").isNull, 1)).as("nulls"),
          count(lit(1)).as("n")).collect()(0)
    } match {
      case Failure(_) => Nil // unreadable table is reported by the loop below
      case Success(r) if r.getLong(3) == 0L =>
        Seq(s"embeddings.embedding: table empty, cannot verify $EmbeddingDim-dim contract")
      case Success(r) if r.getLong(2) > 0L =>
        Seq(s"embeddings.embedding: ${r.getLong(2)} null vector(s)")
      case Success(r) =>
        (r.getInt(0), r.getInt(1)) match {
          case (mn, mx) if mn == EmbeddingDim && mx == EmbeddingDim => Nil
          case (mn, mx) if mn == mx =>
            Seq(s"embeddings.embedding: expected $EmbeddingDim elements, got $mn")
          case (mn, mx) =>
            Seq(s"embeddings.embedding: expected $EmbeddingDim elements, got ragged $mn..$mx")
        }
    }
    // Value-sanity on ts: normalize exactly as every query will, then pin
    // min/max inside the plausible-epoch window. Failure of normalizeTs
    // itself (unknown type) is the footer loop's diff; swallow it here.
    val tsDrift = Try {
      Tables.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
        .agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx")).collect()(0)
    } match {
      case Failure(_) => Nil
      case Success(r) if r.isNullAt(0) =>
        Seq("events.ts: no non-null values, cannot value-check")
      case Success(r) =>
        val (lo, hi) = TsWindowMicros
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        if (mn < lo || mx >= hi)
          Seq(s"events.ts: value-sanity failed: normalized range " +
            s"[$mn, $mx] micros outside " +
            "[2000-01-01, 2100-01-01) — int64 ts likely re-encoded in micros/millis " +
            "(normalizeTs assumes nanos for LongType)")
        else Nil
    }
    dimDrift ++ tsDrift ++ expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      Try(spark.read.parquet(s"$dir/$table.parquet").schema) match {
        case Failure(e) =>
          Seq(s"$table: unreadable (${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString})")
        case Success(schema) =>
          val actual = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
          cols.flatMap { case (name, accepted) =>
            actual.get(name) match {
              case None => Seq(s"$table.$name: expected ${accepted.mkString("|")}, column MISSING")
              case Some(t) if !accepted(t) =>
                Seq(s"$table.$name: expected ${accepted.mkString("|")}, got $t")
              case _ => Nil
            }
          }
      }
    }
  }
}
