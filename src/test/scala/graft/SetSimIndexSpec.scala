package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.ops.Dedup

/** The persisted set-sim index's layout and read path: the bucket
  * count follows the session, answers do not depend on it, and a
  * resolve of a built index (like a repeated table read) pays for no
  * Spark job. */
class SetSimIndexSpec extends SparkSpec {

  /** Digest (table-name suffix) of the one index built under `root`. */
  private def digestUnder(root: String): String = {
    val digests = new java.io.File(root).listFiles.map(_.getName).toSeq
    assert(digests.size === 1, s"expected one index under $root: $digests")
    digests.head
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Long)] = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  /** Number of jobs the calling thread submits while `f` runs. Jobs are
    * told apart by job group, so concurrent suites on the shared
    * context do not count; a sentinel job submitted after `f` marks the
    * point where the (in-order) listener bus has delivered all of
    * `f`'s job starts. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "the listener never saw the sentinel job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("index bucket count follows the session's shuffle partitions; near-dup pairs do not") {
    val t = 700000L
    val fresh = pairs(Dedup.setSimJoin(Tables.documents(spark, sf), "doc_id", t))
    Dedup.unpersistCaches()
    assert(fresh.nonEmpty, "the corpus has no near-dup pair to compare")
    for (n <- Seq(3, 5)) {
      // a child session: its own conf, the shared context and catalog
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      graft.functions.GraftFunctions.register(s)
      val root = java.nio.file.Files.createTempDirectory(s"graft_ssi_b$n").toString
      try {
        val idx = Dedup.persistedSetSimIndex(s, sf, s"buckets$n",
          Tables.documents _, indexRoot = root)
        val d = digestUnder(root)
        Seq(s"ssi_rk_$d" -> "g64", s"ssi_gs_$d" -> "doc_id").foreach { case (table, key) =>
          val desc = s.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
            .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
          assert(desc.contains(s"Num Buckets|$n") &&
            desc.contains(s"Bucket Columns|[`$key`]"),
            s"$table is not bucketed $n ways on $key:\n$desc")
        }
        assert(pairs(Dedup.nearDupsOn(s, idx, t)) === fresh,
          s"index-path pairs under $n shuffle partitions differ from setSimJoin")
      } finally Dedup.unpersistCaches()
    }
  }

  test("resolving a built index and re-reading a table submit no Spark job") {
    val root = java.nio.file.Files.createTempDirectory("graft_ssi_jobs").toString
    def resolve() = Dedup.persistedSetSimIndex(spark, sf, "jobpin",
      Tables.documents _, indexRoot = root)
    try {
      val built = resolve()
      var again: Dedup.SetSimIndex = null
      assert(jobsDuring { again = resolve() } === 0,
        "re-resolving a built index submitted Spark jobs")
      assert((again.nDocs, again.gramBytes) === ((built.nDocs, built.gramBytes)))
      // the probe path a fresh resolve memo takes (tables still in the
      // catalog) is job-free too
      graft.Artifacts.evict(root)
      assert(jobsDuring { resolve() } === 0,
        "re-probing a built index submitted Spark jobs")
      // the declared freq schema is the one on disk
      assert(again.freq.schema ===
        spark.read.parquet(s"$root/${digestUnder(root)}/freq").schema)
    } finally Dedup.unpersistCaches()

    val first = Tables.documents(spark, sf)
    var second: DataFrame = null
    assert(jobsDuring { second = Tables.documents(spark, sf) } === 0,
      "a repeated Tables.documents read submitted Spark jobs")
    assert(second.schema === first.schema)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(first).intersect(ids(second)).isEmpty,
      "two reads of one table share attribute ids")
  }
}
