package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.streaming.{StreamRun, StreamSources}

/** One verifiable operator query: a Spark implementation plus (where the
  * semantics are ANSI-SQL-expressible) an exact DuckDB oracle. The driver
  * hash-compares both at sf0.01 (see SparkEntry / Verify).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    // MEASUREMENT rows (recall gates, calibration sweeps, the configs
    // they derive) price deliberate quality measurement, not engine
    // operators; Bench reports the two lanes separately
    // (total_engine/total_measurement) and pre-commits their persisted
    // artifacts in the untimed setup pass — the nightly-gate-job shape
    measurement: Boolean = false)

object Q {
  /** Events time convention: `Tables.events` normalizes `ts` to int64
    * epoch NANOS whatever the driver's parquet encoding (raw Long for
    * TIMESTAMP(NANOS) via nanosAsLong; exact µs×1000 for the
    * TIMESTAMP(MICROS) encoding rounds ≥ 10 generate). DuckDB reads the
    * same column at microsecond precision, so `ts div 1000` (Spark) ==
    * `epoch_us(ts)` (DuckDB), integer-exact. All window/join arithmetic
    * runs on int64 microseconds.
    */
  val TsUsSpark = "ts div 1000"
  val TsUsDuck = "epoch_us(ts)"

  val HourUs: Long = 3600L * 1000000L
  val MinuteUs: Long = 60L * 1000000L

  /** documents/embeddings are not in TESTDATA.md's registered-table list,
    * so their oracles read the parquet directly; Verify substitutes
    * {SFDIR} with the actual scale-factor dir when dumping
    * oracle_sql.json (works whether or not the driver registers views).
    */
  val DocsRef = "read_parquet('{SFDIR}/documents.parquet')"
  val EmbRef = "read_parquet('{SFDIR}/embeddings.parquet')"
}

/** A row whose operator is stateless, or a complete-mode aggregation,
  * over one input relation — defined once. [[batch]] applies it to the
  * batch table; [[stream]] applies it to the file stream of the same
  * table and runs it to completion in `streamMode`. Both add the same
  * orderBy and carry the same oracle, so the twins cannot drift apart.
  */
final case class Twin(name: String, input: Twin.Input, streamMode: String,
    order: Seq[String], oracle: Option[String])(
    op: (SparkSession, String, DataFrame) => DataFrame) {
  def batch: Q = Q(name,
    (s, dir) => op(s, dir, input.batch(s, dir)).orderBy(order.map(col): _*),
    oracle)
  def stream: Q = Q(s"stream_$name",
    (s, dir) => StreamRun.toBatch(op(s, dir, input.stream(s, dir)), streamMode,
      numPartitions = 4)(s).orderBy(order.map(col): _*),
    oracle)
}

object Twin {
  /** One relation as both engines read it: the batch table and its file
    * stream. */
  final case class Input(batch: (SparkSession, String) => DataFrame,
      stream: (SparkSession, String) => DataFrame)
  val Documents: Input = Input(Tables.documents(_, _), StreamSources.documents)
  val Events: Input = Input(Tables.events(_, _), StreamSources.events)
}
