package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import graft.sources.{ManifestTree, Snapshots}
import graft.sources.ManifestTree.BucketRef

/** Property-based checks (pure JVM — no Spark session) for the OCC
  * commit protocol: 2-8 writers race [[Snapshots.occCommit]] (file
  * footprints) or [[ManifestTree.treeOccCommit]] (bucket footprints) on
  * a text-manifest store, each with a random, possibly overlapping
  * footprint. Whatever the interleaving,
  *
  *  - the history is linear: versions 2..head are each published by
  *    exactly one writer, and no claim is left without its version;
  *  - a writer either landed exactly once, or threw
  *    CommitConflictException because a commit that landed after its
  *    read version overlaps its footprint — and a landed writer
  *    overlaps no commit between its read version and its own;
  *  - the head equals the serial application of the landed commits in
  *    version order.
  */
object CommitRaceProps extends Properties("CommitRace") {

  private val BaseSize = 6

  /** Each writer's footprint: indices into the base (file or bucket) set;
    * bucket footprints may also name buckets the base lacks.
    */
  private def footprints(universe: Int): Gen[List[Set[Int]]] = for {
    n <- Gen.choose(2, 8)
    fs <- Gen.listOfN(n, Gen.choose(0, 3).flatMap(k =>
      Gen.listOfN(k, Gen.choose(0, universe - 1)).map(_.toSet)))
  } yield fs

  private final case class Outcome(readV: Int, landed: Option[Int])

  private def withStore[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_race")
    try body(dir.toString)
    finally {
      Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(_.delete())
      dir.toFile.delete()
    }
  }

  private def write(dir: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("\n").getBytes("UTF-8"))

  /** Runs one writer per footprint, all released at once. Each reads the
    * head, then commits `commit(readV, i)`; a conflict is an outcome,
    * any other exception fails the property.
    */
  private def race(n: Int, head: () => Int)(
      commit: (Int, Int) => Int): Seq[Outcome] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val out = new Array[Either[Throwable, Outcome]](n)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        start.await()
        val readV = head()
        out(i) =
          try Right(Outcome(readV, Some(commit(readV, i))))
          catch {
            case _: Snapshots.CommitConflictException =>
              Right(Outcome(readV, None))
            case e: Throwable => Left(e)
          }
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    out.toSeq.map(_.fold(e => throw e, identity))
  }

  private def claimsWithoutVersion(dir: String, prefix: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".txt.claim"))
      .filterNot(n => new java.io.File(dir, n.stripSuffix(".claim")).exists())
      .toSeq

  /** The OCC contract over `outcomes`, with `fp(i)` writer i's conflict
    * footprint (evaluated eagerly: the store is gone when labels print).
    */
  private def occContract(outcomes: Seq[Outcome], fp: Seq[Set[Int]],
      head: Int): Prop = {
    val landed = outcomes.zipWithIndex.collect {
      case (Outcome(_, Some(v)), i) => v -> i }.toMap
    def overlapsLandedIn(i: Int, lo: Int, hi: Int): Boolean =
      landed.exists { case (v, j) =>
        j != i && v > lo && v < hi && (fp(j) & fp(i)).nonEmpty }
    val linear = landed.size == outcomes.count(_.landed.isDefined) &&
      landed.keySet == (2 to head).toSet
    val justified = outcomes.zipWithIndex.forall {
      case (Outcome(r, Some(v)), i) => !overlapsLandedIn(i, r, v)
      case (Outcome(r, None), i) => overlapsLandedIn(i, r, Int.MaxValue)
    }
    (linear :| s"versions ${landed.keys.toSeq.sorted} vs head $head") &&
      (justified :| s"outcomes $outcomes, footprints " +
        s"${outcomes.indices.map(fp)}")
  }

  property("racing occCommit writers: linear history, justified " +
      "conflicts, head = serial application") =
    Prop.forAll(footprints(BaseSize)) { fps =>
      withStore { dir =>
        val base = (0 until BaseSize).map(i => s"/data/f$i.parquet")
        write(dir, "manifest_1.txt", base)
        // writer i replaces its footprint's files as of the version it
        // read and adds one file of its own
        def replaced(readV: Int, i: Int): Set[String] =
          fps(i).map(base).intersect(Snapshots.manifest(dir, readV).toSet)
        val outcomes = race(fps.size, () => Snapshots.head(dir)) {
          (readV, i) => Snapshots.occCommit(dir, readV,
            replaced(readV, i), Seq(s"/data/w$i.parquet"))._1
        }
        val h = Snapshots.head(dir)
        val headFiles = Snapshots.manifest(dir, h).toSet
        val dangling = claimsWithoutVersion(dir, "manifest_")
        val serial = outcomes.zipWithIndex
          .collect { case (Outcome(r, Some(v)), i) => (v, r, i) }
          .sortBy(_._1)
          .foldLeft(base.toSet) { case (state, (_, r, i)) =>
            state -- replaced(r, i) + s"/data/w$i.parquet" }
        val fp = outcomes.indices.map(i =>
          replaced(outcomes(i).readV, i).map(base.indexOf))
        occContract(outcomes, fp, h) &&
          (dangling.isEmpty :| s"claims left without a version: $dangling") &&
          ((headFiles == serial) :| s"head $headFiles vs serial $serial")
      }
    }

  property("racing treeOccCommit writers: linear history, justified " +
      "conflicts, head = serial application") =
    Prop.forAll(footprints(BaseSize + 2)) { fps =>
      withStore { dir =>
        def ref(nk: Int, tag: String) =
          BucketRef(nk, s"$dir/bm_nk${nk}_$tag.txt", 1L, 0L, 0L)
        write(dir, "mlist_1.txt", (0 until BaseSize).map { nk =>
          val r = ref(nk, "v1")
          s"${r.nk}|${r.bm}|${r.rows}|${r.balLo}|${r.balHi}"
        })
        def refs(i: Int): Seq[BucketRef] =
          fps(i).toSeq.sorted.map(ref(_, s"w$i"))
        val outcomes = race(fps.size, () => ManifestTree.treeHead(dir)) {
          (readV, i) => ManifestTree.treeOccCommit(dir, readV, refs(i))._1
        }
        val h = ManifestTree.treeHead(dir)
        val headRefs = ManifestTree.mlist(dir, h).map(r => r.nk -> r).toMap
        val dangling = claimsWithoutVersion(dir, "mlist_")
        val serial = outcomes.zipWithIndex
          .collect { case (Outcome(_, Some(v)), i) => (v, i) }
          .sortBy(_._1)
          .foldLeft((0 until BaseSize).map(nk => nk -> ref(nk, "v1")).toMap) {
            case (state, (_, i)) => state ++ refs(i).map(r => r.nk -> r) }
        occContract(outcomes, fps, h) &&
          (dangling.isEmpty :| s"claims left without a version: $dangling") &&
          ((headRefs == serial) :| s"head $headRefs vs serial $serial")
      }
    }
}
