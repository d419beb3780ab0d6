package graft

import org.apache.spark.sql.functions._
import graft.model.Classifiers
import graft.pipeline.StrokePipeline
import graft.util.Landing

/** Pins util.Landing.frameLanding (the amortized derived-frame landing
  * behind t14's ranked frame, km1's points/seeds, and the model split)
  * and the split7030 contract the s4/s5/s8 goldens depend on: the two
  * landed halves must be an exact, disjoint partition of the prepared
  * frame — identical to destructuring one randomSplit call.
  */
class LandingSpec extends SparkSpec {
  import spark.implicits._

  test("landing discipline: every pinned block set stays SLIM (the " +
      "'keep landed frames SMALL' contract, checked)") {
    // Exercise a representative set of landed queries at the gated SF,
    // then bound every persisted RDD (landed checkpoints included) this
    // set created: the frameLanding memo pins blocks for the session's
    // life, so a landing that materializes big would grow the steady
    // heap of every later query (r18 verdict item 10). 64 MB per pinned
    // RDD at sf0.01 is ~30× headroom over the largest intended landing
    // (slim id/rank/pair tables); the FrameRowCap guard bounds rows,
    // this bounds BYTES. RDDs other suites pinned earlier in the shared
    // session are excluded, so the verdict does not depend on suite
    // order.
    val dir = "/root/testdata/sf0.01"
    val earlier = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    Seq("pr1_pagerank", "pr3_triangles", "d2_minhash_pairs",
      "x7_knn_join", "km1_kmeans", "fm1_assoc_rules", "d9_decontaminate")
      .foreach(q => SparkEntry.queries(q)(spark, dir).count())
    val pinned = spark.sparkContext.getRDDStorageInfo
      .filterNot(i => earlier(i.id))
    val budget = 64L * 1024 * 1024
    pinned.foreach { i =>
      assert(i.memSize + i.diskSize < budget,
        s"pinned RDD ${i.id} '${i.name}' holds " +
          s"${(i.memSize + i.diskSize) / 1024 / 1024} MB — a landed frame " +
          "grew past the slim-state budget (land a slimmer projection or " +
          "stop memoizing it)")
    }
  }

  test("frameLanding: same key returns the SAME materialized frame, " +
      "different key rebuilds") {
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val a = Landing.frameLanding(spark, "landing-spec-key-1")(build)
    val b = Landing.frameLanding(spark, "landing-spec-key-1")(build)
    assert(builds === 1, "second call must hit the memo")
    assert(a eq b, "memo must return the same frame instance")
    Landing.frameLanding(spark, "landing-spec-key-2")(build)
    assert(builds === 2, "a new key must rebuild")
    // the landed frame is materialized (checkpointed): its plan no longer
    // contains the original local relation but a checkpoint scan
    assert(a.queryExecution.analyzed.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "landing must be an eager localCheckpoint (LogicalRDD leaf)")
  }

  test("frameLanding: frames past FrameRowCap are returned checkpointed " +
      "but NOT memoized (no session-lifetime pin)") {
    var builds = 0
    def big = { builds += 1
      spark.range(Landing.FrameRowCap + 10).toDF("v") }
    val a = Landing.frameLanding(spark, "landing-spec-big")(big)
    assert(a.queryExecution.analyzed.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "oversized landing must still be an eager localCheckpoint")
    val b = Landing.frameLanding(spark, "landing-spec-big")(big)
    assert(builds === 2, "oversized frame must not be memoized")
    assert(!(a eq b))
  }

  test("frameLanding: a new source version (numeric key segment) evicts " +
      "the superseded entry of the same family") {
    var builds = 0
    def build = { builds += 1; Seq((1L, "a")).toDF("k", "v") }
    assert(Landing.frameFamily("/d|part|1755000000000|km1|pts") ===
      "/d|part|km1|pts")
    Landing.frameLanding(spark, "/d|part|111|evict-spec")(build)
    Landing.frameLanding(spark, "/d|part|111|evict-spec")(build)
    assert(builds === 1, "same version must hit the memo")
    // regen: same family, new mtime — supersedes the 111 entry
    Landing.frameLanding(spark, "/d|part|222|evict-spec")(build)
    assert(builds === 2)
    Landing.frameLanding(spark, "/d|part|222|evict-spec")(build)
    assert(builds === 2, "new version must now be the memoized one")
    Landing.frameLanding(spark, "/d|part|111|evict-spec")(build)
    assert(builds === 3, "superseded version must have been evicted")
    // sibling suffixes (train/test, pts/seeds) are DIFFERENT families
    // and must not evict each other
    Landing.frameLanding(spark, "/d|part|333|evict-spec2|x")(build)
    Landing.frameLanding(spark, "/d|part|333|evict-spec2|y")(build)
    assert(builds === 5)
    Landing.frameLanding(spark, "/d|part|333|evict-spec2|x")(build)
    assert(builds === 5, "sibling-suffix landing must survive")
  }

  test("landedLayout: concurrent callers of one key build ONCE and all " +
      "get the same dir; distinct families build without losing once-only") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val sameKey = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await(10, TimeUnit.SECONDS)
            Landing.landedLayout("landing-spec-conc|v1", "landing-conc") {
              dir =>
                builds.incrementAndGet()
                Thread.sleep(100)
                java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(dir, "marker"), "x")
            }
          }
        })
      }
      gate.countDown()
      val dirs = sameKey.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get() === 1, "putIfAbsent must guarantee one build")
      assert(dirs.distinct.size === 1, "all callers must share the dir")
      assert(new java.io.File(dirs.head, "marker").exists())
      // a different FAMILY builds independently (and the per-key future
      // means it never waited on the first family's lock during build)
      val other = Landing.landedLayout("landing-spec-other|v1",
        "landing-conc2")(_ => ())
      assert(other !== dirs.head)
    } finally pool.shutdownNow()
  }

  test("idempotentAppend: a replayed batchId converges on the same file " +
      "set — full replay, and replay of a crashed publish") {
    val dir = Landing.tempDirOnce("landing-spec-idem").toString
    val base = Seq((0L, 0), (1L, 1)).toDF("id", "cell")
    base.write.mode("overwrite").partitionBy("cell").parquet(dir)
    def batch = Seq((10L, 0), (11L, 1), (12L, 0)).toDF("id", "cell")
    def snapshot() = {
      val root = new java.io.File(dir)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .flatMap(pd => pd.listFiles().map(f => pd.getName + "/" + f.getName))
        .toSet
    }
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    val once = snapshot()
    assert(spark.read.parquet(dir).count() === 5)
    // FULL replay (marker present) is a byte-level no-op
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    assert(snapshot() === once, "committed replay must not touch files")
    // CRASHED-publish replay: files published but marker never written —
    // the replay must clean the partial publish and re-converge, not
    // duplicate the batch (the at-least-once foreachBatch case)
    assert(new java.io.File(dir, "_batch_7_committed").delete())
    Landing.idempotentAppend(batch, dir, 7L, "cell")
    assert(spark.read.parquet(dir).count() === 5,
      "replay after a lost marker must not duplicate rows")
    assert(snapshot().map(_.replaceAll("part-.*", "")) ===
      once.map(_.replaceAll("part-.*", "")))
    // a second batch lands beside the first
    Landing.idempotentAppend(batch.filter(col("id") === 10L), dir, 8L, "cell")
    assert(spark.read.parquet(dir).count() === 6)
  }

  test("rootPathMtime: non-file schemes degrade to 0 instead of " +
      "throwing; file paths report the real mtime") {
    import org.apache.hadoop.fs.Path
    assert(Classifiers.rootPathMtime(
      new Path("hdfs://nn:8020/warehouse/t")) === 0L)
    assert(Classifiers.rootPathMtime(
      new Path("s3a://bucket/prefix/t")) === 0L)
    val f = java.nio.file.Files.createTempFile("mtime-spec", ".tmp")
    try {
      val want = f.toFile.lastModified()
      assert(Classifiers.rootPathMtime(new Path(f.toUri)) === want)
      assert(Classifiers.rootPathMtime(new Path(f.toString)) === want)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("split7030: halves are an exact disjoint partition of prepared, " +
      "identical to one destructured randomSplit call") {
    val prepared = StrokePipeline.prepare(spark, StrokePipeline.RawCsv)
    val (train, test) = Classifiers.split7030(prepared, 42L)
    val (train2, test2) = Classifiers.split7030(prepared, 42L)
    assert(train eq train2, "split must be landed, not re-derived")
    assert(test eq test2)
    val nTrain = train.count(); val nTest = test.count()
    assert(nTrain + nTest === prepared.count(),
      "halves must partition the input")
    // membership as row MULTISETS (the cleaned frame has no id column
    // and rows can repeat): train ⊎ test must equal prepared exactly
    def multiset(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().toSeq.groupBy(_.toString).view.mapValues(_.size).toMap
    val tr = multiset(train); val te = multiset(test)
    val both = (tr.keySet ++ te.keySet).map(k =>
      k -> (tr.getOrElse(k, 0) + te.getOrElse(k, 0))).toMap
    assert(both === multiset(prepared),
      "halves must be an exact multiset partition of the input")
    // and the landed train must equal the classic destructured split —
    // the exact frame the golden AUCs were pinned on
    val Array(wantTrain, _) = prepared.randomSplit(Array(0.7, 0.3), 42L)
    assert(tr === multiset(wantTrain),
      "landed train diverged from Array-destructured randomSplit")
  }

  test("planVersionKey: identity + version + family of file-backed frames") {
    import java.nio.file.{Files, attribute}
    val tmp = Files.createTempDirectory("graft_pvk")
    try {
      val p = tmp.resolve("t.parquet").toString
      spark.range(10).toDF("v").write.mode("overwrite").parquet(p)
      val k1 = Landing.planVersionKey(spark.read.parquet(p))
      assert(k1 === Landing.planVersionKey(spark.read.parquet(p)),
        "two reads of one source version must share a key")
      assert(k1.contains(p),
        "the root path must be a structural segment of the key")
      assert(Landing.frameFamily(k1).contains(p),
        "the path must survive numeric family-stripping")
      // a rewrite = new mtime: new KEY, same FAMILY (eviction axis)
      val f = tmp.resolve("t.parquet")
      Files.setLastModifiedTime(f,
        attribute.FileTime.fromMillis(f.toFile.lastModified() + 5000))
      val k2 = Landing.planVersionKey(spark.read.parquet(p))
      assert(k2 !== k1, "a rewritten source must change the key")
      assert(Landing.frameFamily(k2) === Landing.frameFamily(k1),
        "versions of one source must share a family")
      // a different projection is a different identity (semanticHash)
      val k3 = Landing.planVersionKey(
        spark.read.parquet(p).select((col("v") * 2).as("w")))
      assert(k3 !== k2)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("ANN fit memo: count memoized per corpus version, superseded " +
      "version evicted, fresh value served after a rewrite") {
    import java.nio.file.{Files, attribute}
    val tmp = Files.createTempDirectory("graft_fitmemo")
    try {
      val p = tmp.resolve("emb.parquet").toString
      spark.range(10).toDF("vec_id").write.mode("overwrite").parquet(p)
      val before = graft.ext.SimilarityOps.fitCounts.size
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 10L)
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 10L)
      assert(graft.ext.SimilarityOps.fitCounts.size === before + 1,
        "one entry per corpus version")
      // regen with different cardinality + bumped mtime: the fresh value
      // must be served and the superseded entry evicted (no growth)
      spark.range(12).toDF("vec_id").write.mode("overwrite").parquet(p)
      val f = tmp.resolve("emb.parquet")
      Files.setLastModifiedTime(f,
        attribute.FileTime.fromMillis(f.toFile.lastModified() + 5000))
      assert(graft.ext.SimilarityOps.memoCount(spark.read.parquet(p)) === 12L,
        "a rewritten corpus must re-count, not serve the stale cardinality")
      assert(graft.ext.SimilarityOps.fitCounts.size === before + 1,
        "the superseded version's entry must be evicted on insert")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
