package graft

import org.apache.spark.sql.functions._
import graft.sources.{Snapshots, SortedCompaction, Store}

/** Maintenance writers that share a tag and read the same head must
  * stage into distinct subdirs: staging writes use a static
  * `mode("overwrite")`, so a shared subdir deletes the first writer's
  * staged files and its commit then publishes paths that no longer
  * exist.
  */
class StagingCollisionSpec extends SparkSpec {

  /** True once `t` sleeps inside the store's claim wait — it has staged,
    * written its stats, and lost the slot claim.
    */
  private def waitingOnClaim(t: Thread): Boolean = {
    val st = t.getStackTrace.toSeq
    val i = st.lastIndexWhere(f => f.getClassName == "java.lang.Thread" &&
      f.getMethodName.startsWith("sleep"))
    i >= 0 && st.lift(i + 1).exists(_.getClassName.startsWith("graft.sources"))
  }

  private def awaitClaimWait(t: Thread): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!waitingOnClaim(t)) {
      assert(t.isAlive, "writer ended before reaching the claim wait")
      assert(System.nanoTime() < deadline, "writer never reached the claim wait")
      Thread.sleep(5)
    }
  }

  test("two same-tag sortedCompactBucket writers staging from one head " +
      "both commit, and every file the head lists exists") {
    import spark.implicits._
    val dir = graft.util.Landing.tempDirOnce("graft_stagecollide").toString
    (0 until 40).map(i => (i.toLong, i % 2, (i * 37 % 101).toLong * 100L))
      .toDF("k", "nkd", "bal").withColumn("nk", col("nkd"))
      .repartition(col("nk"))
      .write.mode("overwrite").partitionBy("nk").parquet(s"$dir/v1")
    Store.writeManifest(dir, 1,
      Snapshots.statsEntries(spark, Store.bucketedLeafFiles(dir, "v1")))
    val h = Snapshots.head(dir)
    def agg(v: Int): (Long, Long) = {
      val r = Snapshots.readVersion(spark, dir, v)
        .agg(count(lit(1)), sum(col("bal"))).first()
      (r.getLong(0), r.getLong(1))
    }
    val before = agg(h)
    // a third writer holds slot h+1, so both compactions stage from head
    // h and then wait for that slot to publish
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/manifest_${h + 1}.txt.claim"))
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int,
      scala.util.Try[(Int, Int)]]()
    def writer(nk: Int): Thread = {
      val t = new Thread(() => outcomes.put(nk, scala.util.Try(
        SortedCompaction.sortedCompactBucket(spark, dir, nk, "sc", 2))))
      t.start()
      t
    }
    // one writer at a time up to the claim wait: the second stages only
    // after the first has staged and computed its stats
    val a = writer(0)
    awaitClaimWait(a)
    val b = writer(1)
    awaitClaimWait(b)
    // the third writer publishes slot h+1 (a no-op commit)
    Store.writeLines(s"$dir/replaced_${h + 1}.txt", Nil)
    Store.writeLinesAtomic(s"$dir/manifest_${h + 1}.txt",
      Snapshots.manifestLines(dir, h))
    a.join(120000L)
    b.join(120000L)
    assert(outcomes.get(0).isSuccess && outcomes.get(1).isSuccess,
      s"both compactions must commit: $outcomes")
    assert(Set(outcomes.get(0).get._1, outcomes.get(1).get._1) ===
      Set(h + 2, h + 3))
    val headFiles = Snapshots.manifest(dir, Snapshots.head(dir))
    val missing = headFiles.filterNot(f => new java.io.File(f).exists())
    assert(missing.isEmpty,
      s"the head manifest lists files a same-tag writer deleted: $missing")
    assert(agg(Snapshots.head(dir)) === before,
      "compaction must not change the table's content")
  }
}
