package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md §B).
  *
  * One parquet file per table locally; at cluster scale each would be a
  * partitioned directory of many files — `spark.read.parquet` is already
  * splittable and nothing else in the engine would change. Readers go
  * through here so that a future swap to a JDBC source (the reference's
  * actual source, transfer_data_script.py:107-114) touches one seam.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // inferred schema per session and (path, source fingerprint). Per
  // session because session confs such as nanosAsLong change what
  // inference returns; weak so a stopped session's entries go with it.
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, StructType]]())

  /** Read one table. Only the first read of a table in a session (per
    * source fingerprint) runs Spark's schema-inference job; later reads
    * pass the memoized schema. Every call returns a fresh DataFrame, so
    * two reads in one query get distinct attribute ids. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas
      .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(s"$path|${sourceFingerprint(dir, Seq(name))}",
        _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** events.ts has shipped in three parquet encodings across testdata
    * generations, all normalized HERE (the one loader seam — see
    * LoaderSchemaSpec) to a session-TZ TIMESTAMP in microseconds:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses it natively; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    Verify/Bench/tests) it surfaces as a nanos-since-epoch long,
    *    converted via integer `div` (a double division would lose
    *    precision above 2^53; the data has no sub-µs residue so the
    *    truncation is lossless).
    *  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: cast to
    *    TIMESTAMP. Every entry-point session pins
    *    spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *    wall-clock fields as the same UTC instant the generator wrote,
    *    and `unix_micros`/DuckDB `epoch_us` stay aligned.
    *  - timestamp[us] adjusted (LTZ): already TIMESTAMP, no-op. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Number of buckets for the co-located fact layout. Local value —
    * at 100 TB this becomes O(cluster cores) (e.g. 4096); the bucket
    * count must MATCH on both sides for the exchange-free join, which
    * is why both writes share this constant. */
  val FactBuckets = 8

  // one bucketed layout per (root, dir, source fingerprint) per JVM,
  // like Ivf.persistedIndex; the on-disk name is a SHA-256 prefix so
  // hashCode collisions can't cross-contaminate two corpora's layouts
  private val bucketedNames =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Fingerprint of a table's source files — a digest over every
    * file's (relative path, size, mtime-millis) triple, in sorted path
    * order. Folded into the bucketed-layout digest so a REGENERATED
    * corpus at the SAME path forces a fresh build: a digest keyed on
    * the path alone would silently keep joining stale facts after the
    * testdata changes under it (it did — round 5's regen). Round 7
    * moved from aggregate (total-size, max-mtime) to per-file triples:
    * the aggregate form collides for a same-total-size regen written
    * within one mtime millisecond, or a copy with preserved
    * attributes whose file COUNT changed (ADVICE r6). Local java.nio
    * walk; on a cluster store this becomes one `FileSystem.listStatus`
    * over the table directory yielding the same triples. */
  private[graft] def sourceFingerprint(dir: String, tables: Seq[String])
      : String = {
    import java.nio.file.{Files, Paths}
    val md = java.security.MessageDigest.getInstance("SHA-256")
    tables.foreach { t =>
      val p = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(p)) md.update(s"$t:absent;".getBytes("UTF-8"))
      else {
        val it = Files.walk(p)
        val entries = try {
          val b = Seq.newBuilder[String]
          it.forEach { q =>
            if (Files.isRegularFile(q))
              b += s"${p.relativize(q)}:${Files.size(q)}:" +
                s"${Files.getLastModifiedTime(q).toMillis}"
          }
          b.result()
        } finally it.close()
        md.update((s"$t{" + entries.sorted.mkString(",") + "};")
          .getBytes("UTF-8"))
      }
    }
    md.digest().take(12).map(x => f"${x & 0xff}%02x").mkString
  }

  /** The bucketed fact-table layout: lineitem and orders both written
    * `bucketBy(FactBuckets, orderkey)` + sorted within buckets, so a
    * fact-fact join on the order key plans WITHOUT an exchange on
    * either side (bucket co-location — see BucketingSpec and SCALE.md
    * "Joins"). Built once per corpus dir and registered as external
    * tables under `root`; subsequent calls (and sessions sharing the
    * metastore) reuse the files. This is the batch analogue of the
    * reference's one-pass-per-table scan (transfer_data_script.py:
    * 107-114): pay one organized write, then every downstream join is
    * shuffle-free. */
  def bucketedFacts(spark: SparkSession, dir: String,
      root: String = sys.props("java.io.tmpdir") + "/graft_buckets")
      : (DataFrame, DataFrame) =
    bucketedPair(spark, dir, root, "ok",
      ("li", "lineitem", lineitem _, "l_orderkey"),
      ("o", "orders", orders _, "o_orderkey"))

  /** Second co-located layout, keyed by CUSTOMER: orders and customer
    * both bucketed by the custkey, so customer-grain joins (the
    * second-biggest join of the star at 100 TB, where customer stops
    * being broadcastable) also plan exchange-free. One layout per
    * dominant join key is the standard warehouse move (projections /
    * sort orders); each is one offline write. */
  def bucketedCustomerOrders(spark: SparkSession, dir: String,
      root: String = sys.props("java.io.tmpdir") + "/graft_buckets")
      : (DataFrame, DataFrame) =
    bucketedPair(spark, dir, root, "ck",
      ("c", "customer", customer _, "c_custkey"),
      ("ob", "orders", orders _, "o_custkey"))

  private def bucketedPair(spark: SparkSession, dir: String, root: String,
      tag: String,
      a: (String, String, (SparkSession, String) => DataFrame, String),
      b: (String, String, (SparkSession, String) => DataFrame, String))
      : (DataFrame, DataFrame) = {
    // the fingerprint participates in BOTH the per-JVM cache key and
    // the on-disk digest: regenerated source parquet → new digest →
    // new table name → rebuild (stale layouts are left behind under
    // the old digest, bounded by the number of regens)
    val fp = sourceFingerprint(dir, Seq(a._2, b._2))
    val (aName, bName) = bucketedNames.computeIfAbsent(s"$root|$dir|$tag|$fp",
      _ => {
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(s"$root|$dir|$fp".getBytes("UTF-8")).take(8)
          .map(x => f"${x & 0xff}%02x").mkString
        (s"${a._1}_bucketed_${tag}_$digest", s"${b._1}_bucketed_${tag}_$digest")
      })
    // guard on BOTH tables: a build interrupted between the two writes
    // must retry on the next call, not take the fast path into a
    // missing-second-table AnalysisException forever
    if (!spark.catalog.tableExists(aName) ||
        !spark.catalog.tableExists(bName)) {
      val digest = aName.split('_').last
      Seq((aName, a), (bName, b)).foreach {
        case (name, (short, _, load, key)) =>
          load(spark, dir).write.mode("overwrite")
            .bucketBy(FactBuckets, key).sortBy(key)
            .option("path", s"$root/$digest/${tag}_$short")
            .saveAsTable(name)
      }
    }
    (spark.table(aName), spark.table(bName))
  }
}
