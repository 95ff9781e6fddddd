package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus the
  * synthetic `zones` dimension derived deterministically from `nation`
  * (FIXTURES.md §3 — the reference's `geo` city dimension, re-expressed so
  * the DuckDB oracle can derive the identical table with pure SQL).
  *
  * Reference data model: tables are directories of parquet read with
  * `spark.read.parquet` (/root/reference/src/scripts/save_mes_geo.py:30-31).
  *
  * Every parquet table read in the engine (the loaders here,
  * `Pipeline.interim`, the `Sinks` root reads) goes through [[parquet]],
  * which resolves each table's schema once per file version, the way a
  * metastore does: the cache key is the qualified path, the sorted leaf
  * files as (path, length, mtime) listed through the path's Hadoop
  * FileSystem, and the session settings that change inference
  * (`InferenceConfs`). A repeat load of an unchanged table runs no
  * schema-inference job; a changed file re-infers. The cache lives in the
  * JVM only, holds at most 256 entries (`SchemaCacheEntries`, least
  * recently used evicted first), never stores a failed inference and has
  * no switch. The schema is always the one inferred from the file version
  * read, so the `events.ts` encoding branch and the [[fixtureProblems]]
  * gate see exactly what Spark infers.
  */
object Tables {
  /** Scan fan-out (OPTIMIZATION_r18, guide §2.5 "input skew — one huge
    * unsplittable file"): the driver ships each table as ONE parquet file
    * with ONE row group, so every scan stage is exactly one task and all
    * work Spark fuses into it (project/filter kernels, map-side partial
    * aggregation, shuffle write) runs single-threaded regardless of core
    * count — profiled at 1305 core-seconds executing at average
    * parallelism 2.6 on 32 cores across the catalog. When (and only when)
    * the scan's achievable parallelism is far below the session's cores,
    * re-hash the table across the cores on its natural high-cardinality
    * key. The guard is scale-adaptive, not a local[32] constant: at
    * production scale a table is thousands of splittable files, the
    * estimated scan-task count exceeds the core count, and this is a
    * no-op — exactly the "derive partitioning from input size" rule.
    * Hash (not round-robin) partitioning: deterministic row→partition
    * mapping is retry-safe (SPARK-38388) and skips round-robin's
    * sort-before-repartition; the keys below are near-unique so the hash
    * spreads evenly. OPT-IN per call site (`fanned = true` on the
    * loaders) — see the policy note on [[table]]; global override
    * spark.graft.scan.fanout (both directions), size floor
    * spark.graft.scan.fanout.minBytes (default 512 KiB — below that the
    * scan is dimension-sized and the exchange would cost more than the
    * serial scan).
    */
  private val FanoutKeys = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  private def fanOut(spark: SparkSession, df: DataFrame, leaves: Seq[Leaf],
                     key: Option[String], byDefault: Boolean): DataFrame = key match {
    case Some(k) if spark.conf
        .get("spark.graft.scan.fanout", byDefault.toString).toBoolean =>
      val par = spark.sparkContext.defaultParallelism
      // sized from the resolver's leaf listing (Hadoop FileSystem, so
      // file:/hdfs: URIs size as well as plain local paths); a single-file
      // table is its own one-leaf listing. Hidden/metadata files
      // (`_SUCCESS`, `.crc`) are not scanned and do not count.
      val sizes = leaves.filter { l =>
        val name = new Path(l.path).getName
        !name.startsWith("_") && !name.startsWith(".")
      }.map(_.length)
      val minBytes = spark.conf
        .get("spark.graft.scan.fanout.minBytes", (512L * 1024).toString).toLong
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
      // estimated scan tasks from FS metadata only (driver-side, no job):
      // files are at best one task per maxPartitionBytes-sized split;
      // ceiling division — floor under-counted near the boundary (a file
      // of 2.3 splits is 3 tasks, not 2; ADVICE r18 low)
      val estTasks = sizes.map(len => (len + maxSplit - 1) / maxSplit).sum
      if (sizes.sum >= minBytes && estTasks * 2 <= par)
        df.repartition(par, org.apache.spark.sql.functions.col(k))
      else df
    case _ => df
  }

  /** One leaf file of a parquet table: qualified path, length, mtime. */
  private final case class Leaf(path: String, length: Long, mtime: Long)

  /** Schema-cache key: the qualified root paths, every leaf file under
    * them (sorted), and the session settings that change what parquet
    * schema inference returns. */
  private final case class SchemaKey(roots: Seq[String], leaves: Seq[Leaf],
                                     conf: Seq[Option[String]])

  /** Session settings that change the inferred schema of an unchanged file
    * set (timestamp encodings, binary/int96 mapping, footer merging, name
    * resolution, partition-value typing). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** Entry bound of the schema cache (least recently used entries go
    * first). A lake refresh adds one entry per rewritten table version. */
  private val SchemaCacheEntries = 256

  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > SchemaCacheEntries
    })

  /** Every leaf file under `paths` through each path's Hadoop FileSystem,
    * sorted; the qualified roots alongside. None when a path does not exist
    * (or is a glob): the caller then reads uncached and Spark reports the
    * path its usual way. */
  private def listLeaves(spark: SparkSession,
                         paths: Seq[String]): Option[(Seq[String], Seq[Leaf])] = {
    val conf = spark.sessionState.newHadoopConf()
    def walk(fs: FileSystem, st: FileStatus): Seq[Leaf] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk(fs, _))
      else Seq(Leaf(st.getPath.toString, st.getLen, st.getModificationTime))
    try {
      val listed = paths.map { p =>
        val hp = new Path(p)
        val fs = hp.getFileSystem(conf)
        val root = fs.makeQualified(hp)
        root.toString -> walk(fs, fs.getFileStatus(root))
      }
      Some((listed.map(_._1), listed.flatMap(_._2).sortBy(_.path)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Reads parquet `paths` with the schema resolved once per file version
    * (see the object doc). On a hit the read carries the cached schema and
    * runs no Spark job; on a miss Spark infers it (one job) and the result
    * is stored; a failed inference throws before anything is stored. Any
    * changed, added or removed file changes the key, so the schema always
    * comes from the file version read (a rewrite to the same length within
    * the filesystem's mtime granularity is the one change it cannot see,
    * as with any (length, mtime) file cache). */
  def parquet(spark: SparkSession, paths: String*): DataFrame = resolve(spark, paths)._1

  /** [[parquet]] plus the leaf listing it keyed on (empty when unlisted). */
  private def resolve(spark: SparkSession, paths: Seq[String]): (DataFrame, Seq[Leaf]) =
    listLeaves(spark, paths) match {
      case None => (spark.read.parquet(paths: _*), Nil)
      case Some((roots, leaves)) =>
        val key = SchemaKey(roots, leaves, InferenceConfs.map(spark.conf.getOption))
        val df = Option(schemaCache.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
          case None =>
            val inferred = spark.read.parquet(paths: _*)
            schemaCache.put(key, inferred.schema)
            inferred
        }
        (df, leaves)
    }

  /** Load a table; `fanned = true` opts the scan into the fan-out above.
    *
    * POLICY (OPTIMIZATION_r19, measured): the fan-out is OPT-IN per call
    * site, not global. A full-catalog A/B with the (fixed) fan-out firing
    * on every mapped table measured 9 s of improvement mass against 118 s
    * of regression mass — the extra exchange plus its AQE stage-jobs tax
    * every cheap query by ~0.2–0.5 s, while only kernel-heavy consumers
    * (per-token scoring, frame explodes, window argmin over a wide
    * cross join) amortize it. The queries that measurably win pass
    * `fanned = true`; `spark.graft.scan.fanout` remains a global
    * override in BOTH directions (true = fan out every mapped table,
    * false = kill switch; unset = per-call-site policy). */
  def table(spark: SparkSession, dir: String, name: String,
            fanned: Boolean = false): DataFrame = {
    val (df, leaves) = resolve(spark, Seq(s"$dir/$name.parquet"))
    fanOut(spark, df, leaves, FanoutKeys.get(name), fanned)
  }

  def lineitem(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "lineitem", fanned)
  def orders(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "orders", fanned)
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  /** `events.ts` normalization is SCHEMA-DRIVEN: the driver has shipped this
    * column as parquet TIMESTAMP(NANOS) (rounds 1-6) and as timestamp[us]
    * (round 7+), and hard-coding either encoding breaks every downstream
    * events query when the fixture flips (VERDICT r7). Branch on the type
    * Spark actually loaded:
    *  - LongType       → legacy nanos-as-long; floor-truncate to micros,
    *                     exactly what DuckDB's reader does with NANOS
    *  - TimestampNTZType → timestamp[us] w/o UTC adjustment; cast to the
    *                     session-UTC TimestampType all queries assume
    *                     (wall-clock preserved under the pinned UTC session,
    *                     bit-identical to DuckDB's naive read)
    *  - TimestampType  → already what we want
    * Reading the NANOS footer at all requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` in the SESSION
    * (`Sessions.defaults` — set by every graft entry point's builder); the
    * loader itself is read-only and never mutates conf. If a caller built
    * a session without it, the rethrow below names the fix. */
  def events(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame = {
    val raw =
      try table(spark, dir, "events", fanned)
      catch { case e: Throwable if isNanosFooterError(e) =>
        throw new IllegalArgumentException(
          s"$dir/events.parquet uses the legacy parquet TIMESTAMP(NANOS) " +
            "encoding; build the session with graft.Sessions.defaults " +
            "(spark.sql.legacy.parquet.nanosAsLong=true) to read it", e)
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts in $dir/events.parquet has unsupported type ${other.simpleString} " +
          "(expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP) — " +
          "testdata encoding changed; extend Tables.events")
    }
  }
  /** True iff `e` is Spark refusing a parquet TIMESTAMP(NANOS) footer
    * because `spark.sql.legacy.parquet.nanosAsLong` is not set — the one
    * schema-inference failure the fixture gate must name actionably
    * instead of reporting the table "unreadable". */
  private def isNanosFooterError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { c =>
      val m = String.valueOf(c.getMessage)
      m.contains("TIMESTAMP(NANOS") || m.contains("NANOS is not supported")
    }

  def documents(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "documents", fanned)
  def embeddings(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    table(spark, dir, "embeddings", fanned)

  /** Fixture smoke gate (VERDICT r7 §What's-missing 2): one actionable
    * diagnostic instead of N opaque per-query analysis errors when the
    * driver regenerates testdata with a different schema/encoding.
    * Checks every table for expected columns and ACCEPTED type families —
    * deliberately tolerant of encoding drift the loaders normalize
    * (ts as int64-nanos vs timestamp[us]), strict about anything else.
    * Returns the list of problems; empty = fixture compatible. */
  def fixtureProblems(spark: SparkSession, dir: String): Seq[String] = {
    val integral: DataType => Boolean =
      t => t == IntegerType || t == LongType || t == ShortType
    val timestampish: DataType => Boolean =
      t => t == TimestampType || t == TimestampNTZType || t == DateType || t == LongType
    val floatArray: DataType => Boolean = {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    val expected: Seq[(String, Seq[(String, DataType => Boolean, String)])] = Seq(
      "region" -> Seq(
        ("r_regionkey", integral, "integral"), ("r_name", _ == StringType, "string")),
      "nation" -> Seq(
        ("n_nationkey", integral, "integral"), ("n_name", _ == StringType, "string"),
        ("n_regionkey", integral, "integral")),
      "customer" -> Seq(
        ("c_custkey", integral, "integral"), ("c_name", _ == StringType, "string"),
        ("c_nationkey", integral, "integral"), ("c_acctbal", _ == DoubleType, "double"),
        ("c_mktsegment", _ == StringType, "string")),
      "supplier" -> Seq(
        ("s_suppkey", integral, "integral"), ("s_name", _ == StringType, "string"),
        ("s_nationkey", integral, "integral"), ("s_acctbal", _ == DoubleType, "double")),
      "part" -> Seq(
        ("p_partkey", integral, "integral"), ("p_name", _ == StringType, "string"),
        ("p_brand", _ == StringType, "string"), ("p_type", _ == StringType, "string"),
        ("p_size", integral, "integral"), ("p_retailprice", _ == DoubleType, "double")),
      "orders" -> Seq(
        ("o_orderkey", integral, "integral"), ("o_custkey", integral, "integral"),
        ("o_orderstatus", _ == StringType, "string"), ("o_totalprice", _ == DoubleType, "double"),
        ("o_orderdate", timestampish, "timestamp/date"),
        ("o_orderpriority", _ == StringType, "string")),
      "lineitem" -> Seq(
        ("l_orderkey", integral, "integral"), ("l_partkey", integral, "integral"),
        ("l_suppkey", integral, "integral"), ("l_linenumber", integral, "integral"),
        ("l_quantity", _ == DoubleType, "double"), ("l_extendedprice", _ == DoubleType, "double"),
        ("l_discount", _ == DoubleType, "double"), ("l_tax", _ == DoubleType, "double"),
        ("l_returnflag", _ == StringType, "string"), ("l_linestatus", _ == StringType, "string"),
        ("l_shipdate", timestampish, "timestamp/date")),
      "events" -> Seq(
        ("event_id", integral, "integral"), ("ts", timestampish, "timestamp (any supported encoding)"),
        ("user_id", integral, "integral"), ("event_type", _ == StringType, "string"),
        ("value", _ == DoubleType, "double"), ("props", _ == StringType, "string")),
      "documents" -> Seq(
        ("doc_id", integral, "integral"), ("text", _ == StringType, "string"),
        ("lang", _ == StringType, "string"), ("source", _ == StringType, "string"),
        ("n_chars", integral, "integral")),
      "embeddings" -> Seq(
        ("vec_id", integral, "integral"), ("embedding", floatArray, "array<float>"),
        ("label", integral, "integral")))
    expected.flatMap { case (name, cols) =>
      try {
        val schema = table(spark, dir, name).schema
        cols.flatMap { case (colName, ok, want) =>
          schema.fields.find(_.name == colName) match {
            case None =>
              Some(s"$name.$colName: MISSING (have: ${schema.fieldNames.mkString(", ")})")
            case Some(f) if !ok(f.dataType) =>
              Some(s"$name.$colName: found ${f.dataType.simpleString}, accepted: $want")
            case _ => None
          }
        }
      } catch {
        // legacy TIMESTAMP(NANOS) footer + session without the flag: name
        // the actual fix instead of "unreadable" (ADVICE r8 — this is the
        // exact fixture-flip scenario the gate was built to survive; with
        // Sessions.defaults in the builder the read succeeds and this
        // branch never fires)
        case e: Throwable if isNanosFooterError(e) =>
          Seq(s"$name: legacy parquet TIMESTAMP(NANOS) encoding — build " +
            "the session with graft.Sessions.defaults " +
            "(spark.sql.legacy.parquet.nanosAsLong=true)")
        case e: Throwable => Seq(s"$name: unreadable — ${e.getMessage}")
      }
    }
  }

  /** Throws one aggregated, actionable error if the fixture at `dir` is
    * incompatible. Call at tool entry (Verify/Bench) so a driver-side
    * regeneration surfaces as a single diagnostic naming table/column/type. */
  def validate(spark: SparkSession, dir: String): Unit = {
    val problems = fixtureProblems(spark, dir)
    if (problems.nonEmpty) throw new IllegalArgumentException(
      s"fixture at $dir incompatible (driver testdata regeneration?):\n  " +
        problems.mkString("\n  "))
  }

  /** Synthetic city/zone dimension (reference `geo` table:
    * /root/reference/src/scripts/save_mes_geo.py:30 — `id, city, lat_c, lon_c`).
    * Centroids are exact integer-derived doubles so Spark and DuckDB agree
    * bit-for-bit. SQL equivalent (oracle):
    * {{{
    * SELECT n_nationkey AS zone_id, n_name AS zone_name,
    *        CAST((n_nationkey*37) % 120 AS DOUBLE) - 59.5 AS lat_z,
    *        CAST((n_nationkey*73) % 360 AS DOUBLE) - 179.5 AS lon_z
    * FROM nation
    * }}}
    */
  def zones(spark: SparkSession, dir: String): DataFrame =
    nation(spark, dir).select(
      col("n_nationkey").as("zone_id"),
      col("n_name").as("zone_name"),
      ((col("n_nationkey") * 37) % 120).cast("double").minus(lit(59.5)).as("lat_z"),
      ((col("n_nationkey") * 73) % 360).cast("double").minus(lit(179.5)).as("lon_z"))

  /** Events with deterministic synthetic coordinates (FIXTURES.md §3 maps the
    * reference's per-event `lat`/`lon` — save_mes_geo.py:39 — onto testdata by
    * deriving degrees from `event_id`; exact in IEEE double on both engines).
    * SQL: `((event_id*13) % 1200) / 10.0 - 60.0`, `((event_id*29) % 3600) / 10.0 - 180.0`.
    */
  def eventsGeo(spark: SparkSession, dir: String, fanned: Boolean = false): DataFrame =
    events(spark, dir, fanned)
      .withColumn("lat_e", ((col("event_id") * 13) % 1200) / lit(10.0) - lit(60.0))
      .withColumn("lon_e", ((col("event_id") * 29) % 3600) / lit(10.0) - lit(180.0))

  /** Shared oracle-SQL CTE snippets so every query's DuckDB SQL derives the
    * identical synthetic dimensions. */
  object Sql {
    val zones: String =
      """zones AS (
        |  SELECT n_nationkey AS zone_id, n_name AS zone_name,
        |         CAST((n_nationkey*37) % 120 AS DOUBLE) - 59.5 AS lat_z,
        |         CAST((n_nationkey*73) % 360 AS DOUBLE) - 179.5 AS lon_z
        |  FROM nation)""".stripMargin

    val eventsGeo: String =
      """ev AS (
        |  SELECT *,
        |         ((event_id*13) % 1200) / 10.0 - 60.0  AS lat_e,
        |         ((event_id*29) % 3600) / 10.0 - 180.0 AS lon_e
        |  FROM events)""".stripMargin

    /** Haversine km (corrected semantics — SURVEY.md §2.8(a): the reference
      * omits radians(); we define distance WITH the conversion). */
    def haversine(lat1: String, lon1: String, lat2: String, lon2: String): String =
      s"2 * 6371.0 * asin(sqrt(" +
        s"pow(sin(radians($lat2 - $lat1) / 2), 2) + " +
        s"cos(radians($lat1)) * cos(radians($lat2)) * pow(sin(radians($lon2 - $lon1) / 2), 2)))"
  }
}
