package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers used by more than one query domain: exact cross-engine
  * aggregation, the events loaders, the DuckDB spellings of the shared
  * tokenizer/hash/embedding CTEs, and the standing-index scratch dir.
  *
  * Float determinism across engines: per-row arithmetic stays in DOUBLE
  * (IEEE-deterministic in both engines), then every aggregate is *integerized*
  * — scaled by 1e6, cast to DECIMAL(38,0) (deterministic rounding), summed
  * exactly, and emitted as BIGINT micros. No float ever crosses the
  * hash-compare boundary, so Spark's parallel partial aggregation and
  * DuckDB's sequential sum agree bit-for-bit (DuckDB's DECIMAL->DOUBLE cast
  * is not correctly rounded, so emitting doubles would drift by 1 ULP).
  */
private[queries] object Shared {

  /** Exact cross-engine aggregation: BIGINT micros (see object Scaladoc). */
  def msum(c: Column): Column =
    sum((c * lit(1000000.0)).cast(DecimalType(38, 0))).cast("long")
  def msumSql(e: String): String =
    s"CAST(SUM(CAST(($e) * 1000000.0 AS DECIMAL(38,0))) AS BIGINT)"
  /** Exact cross-engine average in micros (floor of micros-sum / count). */
  def mavg(c: Column): Column =
    floor(msum(c) / count(lit(1))).cast("long")
  def mavgSql(e: String): String =
    s"CAST(FLOOR(${msumSql(e)} / COUNT(*)) AS BIGINT)"

  /** The events table's timestamp resolution differs by data generation:
    * legacy driver files carry TIMESTAMP(NANOS), which Spark 4 only reads
    * as raw BIGINT nanos (`nanosAsLong`); current files carry
    * TIMESTAMP(MICROS), read as TIMESTAMP_NTZ. Normalize both to exact
    * BIGINT epoch MICROS — the finest resolution actually present in
    * either generation — so every downstream comparison stays exact
    * integer arithmetic (the NTZ→LTZ cast is an identity under the
    * session's pinned UTC zone). DuckDB's `epoch_us`/`epoch_ms` re-derive
    * the same values from either file generation. */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Tables.events(s, dir)
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    df.withColumn("ts_us", tsUs.cast("long")).drop("ts")
  }

  /** Events with epoch-millis floor — the resolution the analytic queries
    * report (exactly DuckDB's `epoch_ms` semantics). */
  def eventsBase(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"), col("value"),
      expr("ts_us div 1000").as("ts_ms"))

  val TokRe = "[a-z0-9]+"
  val DuckToks = s"regexp_extract_all(lower(text), '$TokRe')"
  /** `TextAnalysis.EnStop` as a DuckDB list literal. */
  val DuckEnStop =
    pipeline.TextAnalysis.EnStop.map(w => s"'$w'").mkString("[", ", ", "]")

  /** 60-bit md5 hash — the exact DuckDB spelling of
    * [[pipeline.Dedup.hash60]], so both engines agree on identical BIGINTs. */
  val DuckHash60 = "CAST(concat('0x', substr(md5(%s), 1, 15)) AS BIGINT)"

  /** Shared embedding-preparation CTEs (integer-micros scaling + exact
    * squared norms, zero vectors dropped) — mirrors Similarity.prepared. */
  val DuckPrepared =
    s"""e AS (SELECT vec_id, list_transform(embedding,
       |       v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xs
       |     FROM embeddings),
       |en AS (SELECT vec_id, xs,
       |       CAST(list_sum(list_transform(range(1, len(xs) + 1), i -> xs[i] * xs[i])) AS BIGINT) AS norm2
       |       FROM e),
       |en2 AS (SELECT * FROM en WHERE norm2 > 0)""".stripMargin

  val DuckFp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

  /** Exact cross-engine cosine: dot/(sqrt*sqrt) over exact integer inputs
    * uses only IEEE-correctly-rounded double ops, so Spark and DuckDB agree
    * bit-for-bit. `%s`/`%s` are the two (xs, norm2) operand prefixes. */
  def duckCos(ax: String, an: String, bx: String, bn: String,
              lam: String = "i") =
    s"""CAST(list_sum(list_transform(range(1, len($ax) + 1), $lam -> $ax[$lam] * $bx[$lam])) AS DOUBLE)
       | / (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))""".stripMargin

  /** The shared plain-IVF search CTE chain (stride centroids, assignment,
    * nprobe probing, ranking) over an already-defined `$q` query CTE
    * (columns query_id, xs, norm2); emits `$ranked`
    * (query_id, neighbor_id, cos, rk). Interpolated by the plain-IVF,
    * recall-evaluation and hard-negatives oracles so the three cannot
    * silently diverge. `kExpr` is the centroid count as a SQL expression
    * evaluated in aggregate context over `en3` — "16" for the
    * calibration gates, the floor-sqrt spelling (mirroring
    * `Ivf.autoCentroids`) for the scale-proportional gate. `centWhere`
    * restricts the centroid TRAINING corpus (stride selection, sizing
    * and count all evaluate over `enc`) while assignment and search stay
    * corpus-wide — "TRUE" for the one-shot gates, the ledger predicate
    * for the standing-index refresh gate whose centroids are frozen at
    * build time. `invWhere` restricts the ASSIGNED corpus (`env` — the
    * inverted file's contents): the admission gate searches a
    * ledger-only index with out-of-index queries, so its `inv` must hold
    * ledger vectors only. */
  def duckIvfSearch(q: String, ranked: String,
                    kExpr: String = "16",
                    centWhere: String = "TRUE",
                    invWhere: String = "TRUE"): String =
    s"""en3 AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2),
       |enc AS (SELECT vec_id, xs, norm2,
       |        row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM en2
       |        WHERE $centWhere),
       |env AS (SELECT vec_id, xs, norm2 FROM en2 WHERE $invWhere),
       |params AS (SELECT GREATEST(1, COUNT(*) // ($kExpr)) AS stride,
       |           ($kExpr) AS kc FROM enc),
       |cents AS (SELECT (idx // stride) AS centroid_id, vec_id, xs, norm2
       |          FROM enc, params WHERE idx % stride = 0 AND idx // stride < kc),
       |ac AS (SELECT v.vec_id, c.centroid_id, ${duckCos("v.xs", "v.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM env v, cents c),
       |assigned AS (SELECT vec_id, centroid_id FROM (
       |         SELECT vec_id, centroid_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM ac) WHERE rn = 1),
       |inv AS (SELECT a.centroid_id, v.vec_id, v.xs, v.norm2
       |        FROM assigned a JOIN env v ON a.vec_id = v.vec_id),
       |qc AS (SELECT $q.query_id, c.centroid_id, ${duckCos(s"$q.xs", s"$q.norm2", "c.xs", "c.norm2")} AS cos
       |       FROM $q, cents c),
       |probes AS (SELECT query_id, centroid_id FROM (
       |         SELECT query_id, centroid_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, centroid_id) AS rn
       |         FROM qc) WHERE rn <= 4),
       |scored AS (SELECT p.query_id, i.vec_id AS neighbor_id,
       |         ${duckCos("qv.xs", "qv.norm2", "i.xs", "i.norm2", "i2")} AS cos
       |       FROM probes p
       |       JOIN $q qv ON qv.query_id = p.query_id
       |       JOIN inv i ON i.centroid_id = p.centroid_id AND i.vec_id <> p.query_id),
       |$ranked AS (SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |       FROM scored)""".stripMargin

  /** Scratch directory for a gate's standing-index files, keyed by the
    * SANITIZED full sf-dir path (collision-free across sf dirs, unlike a
    * 32-bit hash) plus the JVM's pid, so concurrent harness runs sharing
    * /tmp never collide while build-once gates still reuse the index
    * within a run. Local-filesystem parquet: driver and executors must
    * share the filesystem — true for local[*] and the same-host cluster
    * gate; a fleet deployment points index roots at shared storage
    * instead. */
  def indexScratch(kind: String, dir: String): java.io.File =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft_" + kind + "_" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_p" + ProcessHandle.current().pid())
}
