package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine queries are parameterized by an `sfDir` so the same plan runs
  * at any scale factor; at cluster scale the paths would be object-store
  * URIs and partition-pruned directories instead of single files
  * (reference: io_managers.py:155-169 multi-path parquet union).
  *
  * Testdata dtypes CAN change between driver drops (round 9: events.ts
  * silently moved from INT64 TIMESTAMP(NANOS) to TIMESTAMP_MICROS/NTZ and
  * every events query threw). The posture here is branch-or-fail-loudly:
  * known drifts get a dispatch branch ([[load]]'s events.ts handling);
  * anything else raises a named [[SchemaDriftException]] at LOAD time that
  * says exactly which column moved — never 18 queries erroring one by one.
  */
final class SchemaDriftException(msg: String) extends RuntimeException(msg)

object Tables {

  /** The in-repo fixture root `data/`, resolved against the working
    * directory, which sbt and tools/run.sh set to the repository root
    * (`PlanHash` prints paths into it relative to that root).
    */
  val DataDir: String = new java.io.File("data").getAbsolutePath

  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The dtypes (catalogString) the 172 gated queries and their oracle SQL
    * were written against, POST-dispatch. A set with >1 entry means the
    * queries are genuinely polymorphic over those dtypes (timestamps under
    * a UTC session); a single entry means any drift needs either a new
    * dispatch branch here or a sweep of the queries+oracles — loudly.
    */
  private val critical: Map[String, Map[String, Set[String]]] = Map(
    "region" -> Map("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Map("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Map("c_custkey" -> Set("bigint"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Map("s_suppkey" -> Set("bigint"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Map("p_partkey" -> Set("bigint"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Map("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Set("timestamp_ntz", "timestamp")),
    "lineitem" -> Map("l_orderkey" -> Set("bigint"),
      "l_partkey" -> Set("bigint"), "l_suppkey" -> Set("bigint"),
      "l_linenumber" -> Set("int"), "l_quantity" -> Set("double"),
      "l_extendedprice" -> Set("double"), "l_discount" -> Set("double"),
      "l_tax" -> Set("double"), "l_returnflag" -> Set("string"),
      "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("timestamp_ntz", "timestamp")),
    "events" -> Map("event_id" -> Set("bigint"),
      "ts" -> Set("timestamp"), // post-dispatch: nanos/NTZ both normalize
      "user_id" -> Set("bigint"), "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Map("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Map("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  private def verify(name: String, df: DataFrame): DataFrame = {
    critical.get(name).foreach { cols =>
      cols.foreach { case (c, ok) =>
        val actual = df.schema.fields.find(_.name == c)
          .map(_.dataType.catalogString)
        if (!actual.exists(ok.contains)) throw new SchemaDriftException(
          s"testdata schema drift: $name.$c is " +
            s"${actual.getOrElse("MISSING")}, the gated queries + oracle " +
            s"SQL assume ${ok.mkString("{", ", ", "}")} — add a dispatch " +
            "branch in graft.core.Tables.load or re-sweep the queries " +
            "(round-9 lesson: never let a dtype drop surface as N query " +
            "errors)")
      }
    }
    df
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = if (name == "events") {
      // Historically events.parquet stored INT64 TIMESTAMP(NANOS); newer
      // drops regenerate it as TIMESTAMP_MICROS. Spark has no nanos
      // timestamp, so enable nanosAsLong (a no-op for micros files) and
      // branch on the dtype the scan actually produced: long nanos are
      // truncated to micros (exactly what DuckDB/pyarrow do when
      // down-casting), native timestamps pass through unchanged.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Naive micros: interpret as UTC instants (sessions run with
          // spark.sql.session.timeZone=UTC, so this cast is epoch-exact
          // and matches DuckDB's naive read of the same file).
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw // TimestampType passes; anything else fails verify
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
    verify(name, df)
  }

  /** Multi-path union scan (SURVEY S1/U3): one read, N files. */
  def loadMany(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)
}
