package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture-table access (TESTDATA.md): one parquet file per table under
  * the scale-factor directory handed to every query.
  *
  * At cluster scale these reads would be directory-partitioned datasets;
  * everything downstream only depends on the DataFrame, so swapping the
  * path layout is a one-line change here.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (rounds 1-6)
      // and as TIMESTAMP(MICROS, isAdjustedToUTC=false) — normalize
      // EITHER encoding to a session-zoned TIMESTAMP with the same µs
      // values, so downstream code sees one type regardless of how the
      // fixture generation evolves.
      //  - NANOS: Spark's vectorized reader rejects it; read nanos as
      //    long and truncate to µs (integer DIV — a double roundtrip
      //    would lose precision at 2^63).
      //  - MICROS not-adjusted-to-UTC: Spark infers TIMESTAMP_NTZ;
      //    cast to TIMESTAMP — the session runs UTC, so the wall-clock
      //    reinterpretation is value-preserving (same unix_micros).
      sessionDefaults(spark)
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts", expr("cast(ts as timestamp)"))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The one place graft sets a session conf the fixture readers need:
    * parquet TIMESTAMP(NANOS) reads as a long, which [[load]], the
    * events stream and the q60/q82 encoding probes convert themselves
    * (the vectorized reader rejects NANOS otherwise). Idempotent, and
    * a session that already has the setting is not written again. */
  def sessionDefaults(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
  }

  private val lastRegistered =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()

  /** Register every fixture table as a temp view so `spark.sql` queries
    * (and lineage extraction over the analyzed plan) can resolve them.
    * Memoized on the last-registered dir per session (several queries
    * call this and each registration re-reads 10 parquet footers);
    * switching dirs re-registers so views never point at stale data. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val prev = lastRegistered.put(System.identityHashCode(spark), dir)
    if (prev != dir)
      all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
  }
}
