package graft

import graft.store.{HotBatch, HotTier}

/** The hot tier's pure transitions. Frames are built but never
  * evaluated: every check is on the tier value, so no Spark job runs.
  */
class HotTierSpec extends SparkSpec {

  private def batch(i: Int, path: String = ""): HotBatch =
    HotBatch(spark.range(i + 1).toDF(), minTs = 1000L + i,
      wallMs = 10L * (i + 1), path = path)

  private def tier(bs: HotBatch*): HotTier =
    bs.foldLeft(HotTier())(_.appended(_))

  test("append counts pins and advances the staleness bound") {
    val t = tier(batch(0), batch(1), batch(2))
    assert(t.batches.size === 3)
    assert(t.pinsSinceFullFold === 3)
    assert(t.pinnedThroughWallMs === 30L)
    assert(t.rawTailLen === 3 && t.pinnedPending === 3)
    // a late stamp never moves the bound backwards
    assert(t.appended(batch(0)).pinnedThroughWallMs === 30L)
  }

  test("delta fold keeps the prefix and an appended tail aligned") {
    val (head, _) = tier(batch(0, "p0"), batch(1, "p1"))
      .fullFolded(2, spark.range(7).toDF(), "h", 1000L, Nil)
    val raws = (2 to 4).map(i => batch(i, s"p$i"))
    val snap = raws.foldLeft(head)(_.appended(_))
    // two pins land while the fold runs
    val late = Seq(batch(5, "p5"), batch(6))
    val live = late.foldLeft(snap)(_.appended(_))
    val mid = spark.range(9).toDF()
    val t = live.deltaFolded(snap.batches.size, mid, "m")

    assert(t.batches.size === 4)
    assert(t.batches.head eq live.batches.head, "the head is untouched")
    val folded = t.batches(1)
    assert(folded.df eq mid)
    assert(folded.minTs === raws.map(_.minTs).min)
    assert(folded.wallMs === raws.map(_.wallMs).max)
    assert(folded.path === "m")
    // the late pins keep their own frame, min ts, stamp and path
    assert(t.batches.drop(2) === late.toVector)
    assert(t.mids === 1 && t.rawTailLen === 2)
    assert(t.pinsSinceFullFold === live.pinsSinceFullFold)
    assert(t.retiredCur === Vector("p2", "p3", "p4"))
    assert(t.retiredPrev === live.retiredPrev)

    // a second delta fold folds only the raw tail behind the first mid
    val t2 = t.deltaFolded(t.batches.size, spark.range(3).toDF(), "m2")
    assert(t2.batches.take(2) === t.batches.take(2))
    assert(t2.batches.size === 3 && t2.mids === 2 && t2.rawTailLen === 0)
    assert(t2.retiredCur === Vector("p2", "p3", "p4", "p5"))
  }

  test("a full fold keeps batches appended while it ran") {
    val snap = tier(batch(0, "a"), batch(1, "b"), batch(2, "c"))
      .deltaFolded(3, spark.range(5).toDF(), "mid")
      .appended(batch(3, "d"))
    assert(snap.mids === 1 && snap.batches.size === 2)
    val late = Seq(batch(4, "e"), batch(5, "f"))
    val live = late.foldLeft(snap)(_.appended(_))
    val head = spark.range(11).toDF()
    val (t, dropNow) = live.fullFolded(snap.batches.size, head, "h",
      minTs = 1234L, alsoRetired = Seq("untrimmed"))

    assert(t.batches.head.df eq head)
    assert(t.batches.head.minTs === 1234L)
    assert(t.batches.head.wallMs === 40L) // the newest folded stamp
    assert(t.batches.tail === late.toVector)
    assert(t.headCompacted && t.mids === 0)
    assert(t.pinsSinceFullFold === 2 && t.rawTailLen === 2)
    assert(t.pinnedPending === 2)
    assert(t.pinnedThroughWallMs === live.pinnedThroughWallMs)
    assert(dropNow.isEmpty, "no previous generation yet")
    assert(t.retiredPrev === Vector("a", "b", "c", "mid", "d", "untrimmed"))
    assert(t.retiredCur.isEmpty)
  }

  test("the covering prefix is the shortest whose stamp reaches the " +
    "horizon") {
    val (headed, _) = tier(batch(0), batch(1))
      .fullFolded(2, spark.range(2).toDF(), "", 1000L, Nil) // stamp 20
    val t = Seq(batch(2), batch(3), batch(4)) // stamps 30, 40, 50
      .foldLeft(headed)(_.appended(_))
      .deltaFolded(3, spark.range(4).toDF(), "") // mid stamp 40
      .appended(batch(5)) // stamp 60
    assert(t.batches.map(_.wallMs) === Vector(20L, 40L, 50L, 60L))

    def prefixLen(horizon: Long): Option[Int] =
      t.covering(horizon).map(_.batches.size)
    assert(prefixLen(Long.MinValue) === Some(1))
    assert(prefixLen(20L) === Some(1)) // the head alone
    assert(prefixLen(21L) === Some(2)) // head + the mid
    assert(prefixLen(50L) === Some(3))
    assert(prefixLen(60L) === Some(4))
    // every prefix is a consistent earlier view of the tier
    val v = t.covering(21L).get
    assert(v.batches === t.batches.take(2))
    assert(v.headCompacted && v.mids === 1 && v.rawTailLen === 0)
    assert(t.covering(1L).get.mids === 0)

    // past every stamp, only the pinned-through bound can cover
    assert(t.pinnedThroughWallMs === 60L)
    assert(t.covering(61L) === None)
    val quiesced = t.copy(pinnedThroughWallMs = 70L)
    assert(quiesced.covering(70L).map(_.batches) === Some(t.batches))
    assert(quiesced.covering(71L) === None)
  }

  test("a retired path survives exactly one further full fold") {
    val live = tier(batch(0, "r0"), batch(1, "r1"))
    val (g1, drop1) = live.fullFolded(2, spark.range(1).toDF(), "h1",
      1000L, Nil)
    assert(drop1.isEmpty)
    assert(g1.retiredPrev === Vector("r0", "r1"))

    // delta folds between full folds retire into the current
    // generation and delete nothing
    val withMid = g1.appended(batch(2, "r2")).appended(batch(3, "r3"))
      .deltaFolded(3, spark.range(1).toDF(), "m")
    assert(withMid.retiredPrev === Vector("r0", "r1"))
    assert(withMid.retiredCur === Vector("r2", "r3"))

    val (g2, drop2) = withMid.fullFolded(withMid.batches.size,
      spark.range(1).toDF(), "h2", 1000L, Nil)
    assert(drop2 === Vector("r0", "r1"), "one full generation of grace")
    assert(g2.retiredPrev === Vector("r2", "r3", "h1", "m"))

    val (_, drop3) = g2.fullFolded(1, spark.range(1).toDF(), "h3",
      1000L, Nil)
    assert(drop3 === Vector("r2", "r3", "h1", "m"))
  }

  test("the spill frontier rises with full folds, never falls, and " +
    "rides every view") {
    val t0 = tier(batch(0), batch(1))
    assert(t0.coldBelow === Long.MinValue, "nothing spilled yet")
    // a fold that spilled nothing leaves the frontier where it was
    val (quiet, _) = t0.fullFolded(2, spark.range(1).toDF(), "", 1000L, Nil)
    assert(quiet.coldBelow === Long.MinValue)
    val (g1, _) = quiet.appended(batch(2))
      .fullFolded(2, spark.range(1).toDF(), "", 1000L, Nil,
        spilledTo = 5000L)
    assert(g1.coldBelow === 5000L)
    // a backfill spill below the frontier does not lower it
    val (g2, _) = g1.appended(batch(3))
      .fullFolded(2, spark.range(1).toDF(), "", 1000L, Nil,
        spilledTo = 3000L)
    assert(g2.coldBelow === 5000L)
    // appends, delta folds and bounded-staleness prefixes keep it
    val t = g2.appended(batch(4)).appended(batch(5))
      .deltaFolded(3, spark.range(1).toDF(), "")
    assert(t.coldBelow === 5000L)
    assert(t.covering(Long.MinValue).map(_.coldBelow) === Some(5000L))
  }
}
