package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.CdcPipeline
import graft.table.{JoinView, LakeTable}
import graft.table.JoinView.DerivedJoinView

/** Right-side dimension stream: `lang` is the key, `owner` the payload. */
case class DimEvent(lang: String, owner: String, commit: String, op: String,
                    part: Int, lsn: Long, ts_ms: Long)

/** Incremental equi-join view maintenance: the view table must equal the
  * direct join of the two base snapshots after every catch-up, under
  * interleaved base versions, join-column changes, and deletes on both
  * sides — without ever re-running the full join.
  */
class JoinViewSpec extends SparkSpec {
  import spark.implicits._

  // left events: 12 (repo, path) keys; lang (the JOIN column) must NOT be
  // a function of the key (i mod 12 determines the key, so any `i % k`
  // with k | 12 would freeze each key's lang forever and never exercise
  // the old-partner retraction path) — (i/12) advances per revisit, so a
  // key's lang CHANGES across its own updates; every 4th op is a delete
  private def leftEvents(lsns: Range): Seq[FlatEvent] = lsns.map { i =>
    val key = (s"repo${i % 3}", s"p${i % 4}.txt")
    val op = Seq("c", "u", "u", "d")((i / 12) % 4)
    val e = FlatEvent.mk(key, i.toLong, op)
    e.copy(lang = s"L${(i / 12) % 3}")
  }

  // right events: 3 lang keys with changing owners; L1 gets deleted late
  private def rightEvents(lsns: Range): Seq[DimEvent] = lsns.map { i =>
    val op = if (i > 100 && i % 3 == 1 && i > 110) "d" else "u"
    DimEvent(s"L${i % 3}", s"team${i % 5}", f"c$i%010d", op, i % 2, i.toLong,
      1700000000000L + i)
  }

  private def mkView(joinType: String = "inner"): DerivedJoinView = {
    val root = Files.createTempDirectory("joinview").toString
    DerivedJoinView(
      view = new LakeTable(s"$root/view", numBuckets = 4,
        keyCols = Seq("l_repo", "l_path", "r_lang")),
      left = new LakeTable(s"$root/left", numBuckets = 4),
      right = new LakeTable(s"$root/right", numBuckets = 2, keyCols = Seq("lang")),
      leftOn = "lang", rightOn = "lang",
      leftCols = Seq("repo", "path", "lang", "content"),
      rightCols = Seq("lang", "owner"),
      joinType = joinType)
  }

  /** The oracle: a fresh full (inner or left-outer) join of the two base
    * snapshots.
    */
  private def directJoin(jv: DerivedJoinView): Set[Seq[Any]] = {
    (jv.left.snapshot(spark), jv.right.snapshot(spark)) match {
      case (Some(l), rOpt) =>
        val lp = l.select(jv.leftCols.map(c => col(c).as(s"l_$c")): _*)
        val rp = rOpt.map(_.select(jv.rightCols.map(c => col(c).as(s"r_$c")): _*))
          .getOrElse {
            // typed empty frame — right schema from its commit log when
            // available (a string cast would corrupt a non-string oracle)
            val rs = jv.right.lastCommit().map(_.schema)
            lp.limit(0).select(jv.rightCols.map(c => lit(null)
              .cast(rs.map(_(c).dataType).getOrElse(org.apache.spark.sql.types.StringType))
              .as(s"r_$c")): _*)
          }
        lp.join(rp, col("l_lang") === col("r_lang"), jv.joinType)
          .select(jv.payloadCols.map(col): _*)
          .collect().map(_.toSeq).toSet
      case _ => Set.empty
    }
  }

  private def viewRows(jv: DerivedJoinView): Set[Seq[Any]] =
    jv.view.snapshot(spark)
      .map(df => jv.nullExtended(df).select(jv.payloadCols.map(col): _*)
        .collect().map(_.toSeq).toSet)
      .getOrElse(Set.empty)

  test("join view equals the direct join at every interleaved catch-up point") {
    val jv = mkView()
    def check(label: String): Unit = {
      JoinView.maintain(spark, jv)
      val (direct, got) = (directJoin(jv), viewRows(jv))
      assert(got === direct, s"$label: view diverged from the direct join")
    }

    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left,
      numBatches = 2)
    JoinView.maintain(spark, jv) // right empty: no-op, no commits
    assert(jv.view.lastCommit().isEmpty)

    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right,
      numBatches = 2)
    check("both bases at part 1")
    assert(viewRows(jv).nonEmpty, "part-1 join must be non-empty — else the test is vacuous")

    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    check("left advanced to part 2 (join-column changes + deletes folded)")

    CdcPipeline.replay(spark, rightEvents(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    check("right advanced to part 2 (dimension deletes retract their pairs)")

    // the reflected version pair is encoded in the view's batchId
    val (va, vb) = JoinView.decode(jv.view.lastCommit().get.batchId)
    assert((va, vb) === (4L, 4L))
  }

  test("left-outer join view: null-extension rows are born and die with partner-count transitions") {
    val jv = mkView("left_outer")
    def check(label: String): Unit = {
      JoinView.maintain(spark, jv)
      assert(viewRows(jv) === directJoin(jv), s"$label: view diverged from the direct LEFT JOIN")
    }

    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    // catch-up runs the bootstrap: left steps against right@0 birth a
    // sentinel row per live left row; right steps then kill each value's
    // sentinels as its FIRST partner arrives
    check("both bases at part 1")

    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    check("left advanced (partnerless postimages assert sentinel rows)")

    CdcPipeline.replay(spark, rightEvents(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    check("right advanced (L1's LAST partner death re-births its left rows)")

    // the dimension deleted L1 late — its left rows must survive
    // null-extended, or the scenario proved nothing
    val nulls = viewRows(jv).filter(_.drop(4).forall(_ == null))
    assert(nulls.nonEmpty, "final state must hold null-extended rows (L1 has no dim row)")
    assert(nulls.size < viewRows(jv).size, "and partnered rows too")

    // LEFT-step sentinel birth against a NON-empty right (the bootstrap
    // births above all ran against right@0): new left rows with a lang
    // the dimension never carried
    val orphan = (121 to 132).map(i =>
      FlatEvent.mk((s"repo${i % 3}", s"p${i % 4}.txt"), i.toLong + 200, "u").copy(lang = "L9"))
    CdcPipeline.replay(spark, orphan.toDF(), jv.left,
      numBatches = 1, startBatchId = 4)
    check("left-step anti against a non-empty right (L9 has no dim row)")
    assert(viewRows(jv).exists(r => r(2) == "L9" && r.drop(4).forall(_ == null)),
      "L9 rows must ride null-extended via the left-step anti path")
  }

  // 4 dimension keys: L3 never appears on the left (leftEvents use L0-L2),
  // so it exercises the preserved-right partnerless paths
  private def rightEventsWide(lsns: Range): Seq[DimEvent] = lsns.map { i =>
    val op = if (i > 100 && i % 3 == 1 && i > 110) "d" else "u"
    DimEvent(s"L${i % 4}", s"team${i % 5}", f"c$i%010d", op, i % 2, i.toLong,
      1700000000000L + i)
  }

  test("right-outer join view: partnerless dimension rows ride with NoPartner left keys") {
    val jv = mkView("right_outer")
    def check(label: String): Unit = {
      JoinView.maintain(spark, jv)
      assert(viewRows(jv) === directJoin(jv), s"$label: view diverged from the direct RIGHT JOIN")
    }
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEventsWide(1 to 60).toDF(), jv.right, 2)
    check("both bases at part 1")
    assert(viewRows(jv).exists(r => r.take(4).forall(_ == null) && r(4) == "L3"),
      "the L3 dimension row must ride null-extended (no left partner)")
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    check("left advanced (pair churn against preserved right)")
    CdcPipeline.replay(spark, rightEventsWide(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    check("right advanced (right-step anti path for partnerless dim rows)")
  }

  test("full-outer join view equals the direct FULL JOIN through partner transitions on both sides") {
    val jv = mkView("full_outer")
    def check(label: String): Unit = {
      JoinView.maintain(spark, jv)
      assert(viewRows(jv) === directJoin(jv), s"$label: view diverged from the direct FULL JOIN")
    }
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEventsWide(1 to 60).toDF(), jv.right, 2)
    check("bootstrap")
    assert(viewRows(jv).exists(r => r.take(4).forall(_ == null)),
      "right-sentinel rows must be present (L3 has no left partner)")
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    CdcPipeline.replay(spark, rightEventsWide(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    check("both advanced (pair + sentinel churn, both preserved sides)")
    // L3's FIRST left partner arrives through a LEFT step → the right-side
    // sentinel rows must die via the left-step partner transitions
    val l3 = (1 to 6).map(i =>
      FlatEvent.mk(("repoL3", s"p$i.txt"), 300L + i, "u").copy(lang = "L3"))
    CdcPipeline.replay(spark, l3.toDF(), jv.left,
      numBatches = 1, startBatchId = 4)
    check("left step kills the right-side sentinels (first partner)")
    assert(!viewRows(jv).exists(r => r.take(4).forall(_ == null) && r(4) == "L3"),
      "L3's sentinel rows must be gone once a left partner exists")
    // deleting them again removes L3's LAST partner through a LEFT step →
    // the right-side sentinels must re-birth
    val l3d = (1 to 6).map(i =>
      FlatEvent.mk(("repoL3", s"p$i.txt"), 400L + i, "d").copy(lang = "L3"))
    CdcPipeline.replay(spark, l3d.toDF(), jv.left,
      numBatches = 1, startBatchId = 5)
    check("left step re-births the right-side sentinels (last partner death)")
    assert(viewRows(jv).exists(r => r.take(4).forall(_ == null) && r(4) == "L3"),
      "L3 must ride null-extended again after its last partner died")
    // orphan lang on the left: the left-side anti path in the same view
    val l9 = (1 to 6).map(i =>
      FlatEvent.mk(("repoL9", s"p$i.txt"), 500L + i, "u").copy(lang = "L9"))
    CdcPipeline.replay(spark, l9.toDF(), jv.left,
      numBatches = 1, startBatchId = 6)
    check("left anti path (L9 partnerless)")
    assert(viewRows(jv).exists(r => r(2) == "L9" && r.drop(4).forall(_ == null)),
      "L9 rows must ride null-extended via the left-step anti path")
  }

  test("randomized interleavings: every outer variant equals the direct join at every catch-up") {
    // adversarial coverage for the symmetric sentinel machinery: random
    // waves on both sides (updates + deletes, join values appearing and
    // dying on either side), random catch-up points — the maintained
    // view must equal the direct join EVERY time, for every variant
    val rnd = new scala.util.Random(11)
    for (joinType <- Seq("left_outer", "right_outer", "full_outer")) {
      val jv = mkView(joinType)
      var batch = 0L
      var lsn = 100L
      def leftWave(n: Int): Unit = if (n > 0) {
        val evs = (1 to n).map { _ =>
          lsn += 1
          val key = (s"repo${rnd.nextInt(3)}", s"p${rnd.nextInt(4)}.txt")
          val op = if (rnd.nextInt(4) == 0) "d" else "u"
          FlatEvent.mk(key, lsn, op).copy(lang = s"L${rnd.nextInt(5)}")
        }
        CdcPipeline.replay(spark, evs.toDF(), jv.left,
          numBatches = 1, startBatchId = batch)
        batch += 1
      }
      def rightWave(n: Int): Unit = if (n > 0) {
        val evs = (1 to n).map { _ =>
          lsn += 1
          val op = if (rnd.nextInt(5) == 0) "d" else "u"
          DimEvent(s"L${rnd.nextInt(6)}", s"team${rnd.nextInt(4)}", f"c$lsn%010d",
            op, rnd.nextInt(2), lsn, 1700000000000L + lsn)
        }
        CdcPipeline.replay(spark, evs.toDF(), jv.right,
          numBatches = 1, startBatchId = batch)
        batch += 1
      }
      leftWave(10 + rnd.nextInt(20)); rightWave(8 + rnd.nextInt(12))
      var checked = 0
      for (round <- 1 to 5) {
        leftWave(rnd.nextInt(25)); rightWave(rnd.nextInt(15))
        // rounds 3 and 5 always check (≥2 catch-up points per variant);
        // other rounds randomly, so some catch-ups fold multi-wave lags
        if (rnd.nextInt(2) == 0 || round == 3 || round == 5) {
          JoinView.maintain(spark, jv)
          assert(viewRows(jv) === directJoin(jv),
            s"$joinType diverged from the direct join at round $round")
          checked += 1
        }
      }
      assert(checked >= 2, s"$joinType: test must exercise multiple catch-up points")
    }
  }

  test("reserved-sentinel guard is fused into the fold projection and still fails loudly") {
    // a REAL right key equal to the NoPartner sentinel would collide with
    // sentinel view keys under LWW; the guard now lives INSIDE the delta
    // projection (codegen'd raise_error — no per-fold count job), so it
    // must surface as a loud job failure when such a key steps
    val jv = mkView("left_outer")
    CdcPipeline.replay(spark, leftEvents(1 to 24).toDF(), jv.left, 1)
    val poisoned = rightEvents(1 to 24) :+
      DimEvent(JoinView.NoPartner, "teamX", f"c${99L}%010d", "u", 0, 99L, 1700000000099L)
    CdcPipeline.replay(spark, poisoned.toDF(), jv.right, 1)
    val ex = intercept[Throwable](JoinView.maintain(spark, jv))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("NoPartner")),
      s"guard must fail loudly on a reserved-sentinel key; got: ${messages(ex).mkString(" | ")}")
  }

  test("re-maintain is a no-op: steps are batchId-fenced, files untouched") {
    val jv = mkView()
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    JoinView.maintain(spark, jv)
    val before = jv.view.lastCommit().get
    JoinView.maintain(spark, jv)
    val after = jv.view.lastCommit().get
    assert(after.version === before.version && after.files.toSet === before.files.toSet,
      "an already-caught-up view must not commit again")
  }

  test("streaming join-view maintenance: the pipeline keeps the view current across a restart") {
    val jv = mkView()
    val root = Files.createTempDirectory("jv-stream").toString
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    CdcPipeline.replay(spark, rightEvents(1 to 120).toDF(), jv.right, 2)
    def run(): Unit = CdcPipeline.start(spark, inDir, ckpt, jv.left, joinViews = Seq(jv))
      .awaitTermination()

    graft.core.Envelope.wrap(leftEvents(1 to 60).toDF()).write.mode("append").parquet(inDir)
    run()
    assert(viewRows(jv) === directJoin(jv), "wave 1: streamed view diverged")
    assert(viewRows(jv).nonEmpty)

    graft.core.Envelope.wrap(leftEvents(61 to 120).toDF()).write.mode("append").parquet(inDir)
    run() // checkpoint restart picks up only wave 2
    assert(viewRows(jv) === directJoin(jv), "wave 2 after restart: streamed view diverged")
  }

  test("view cascade: aggregate IVM over a maintained join view stays exact end-to-end") {
    import graft.table.MaterializedView
    val jv = mkView()
    // the cascade target: rows-per-owner over the JOIN VIEW's table —
    // possible precisely because the view IS a LakeTable with its own
    // commit log and change feed
    val aggRoot = Files.createTempDirectory("jv-agg").toString
    val dv = MaterializedView.DerivedView(
      new LakeTable(s"$aggRoot/agg", numBuckets = 2, keyCols = Seq("r_owner")),
      groupCols = Seq("r_owner"), measure = lit(1L), measureAlias = "m")

    def checkCascade(): Unit = {
      JoinView.maintain(spark, jv)
      MaterializedView.maintain(spark, jv.view, dv)
      val direct = directJoin(jv).groupBy(_(5)).map { case (owner, rows) =>
        (owner, rows.size.toLong) }.toSet
      val got = dv.table.snapshot(spark).get
        .select(col("r_owner"), col("n_rows")).collect()
        .map(r => (r.get(0), r.getLong(1))).toSet
      assert(got === direct, "cascaded aggregate diverged from the direct group-count of the join")
    }

    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    checkCascade()
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    CdcPipeline.replay(spark, rightEvents(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    checkCascade()
  }

  test("multi-version catch-up: one commit per base range, state identical to per-commit maintenance") {
    // scenario A: maintain after EVERY base advance (per-version steps of
    // rounds 1-3); scenario B: same events, ONE maintain at the end (the
    // round-4 range fold). Both must equal the direct join; B must have
    // paid exactly one commit per side.
    val a = mkView(); val b = mkView()
    Seq(a, b).foreach { jv =>
      def adv(lsns: Range, startId: Long): Unit = {
        CdcPipeline.replay(spark, leftEvents(lsns).toDF(), jv.left,
          numBatches = 2, startBatchId = startId)
        CdcPipeline.replay(spark, rightEvents(lsns).toDF(), jv.right,
          numBatches = 2, startBatchId = startId)
        if (jv eq a) JoinView.maintain(spark, jv) // A: per-advance catch-up
      }
      adv(1 to 60, 0); adv(61 to 120, 2)
    }
    JoinView.maintain(spark, b) // B: one catch-up over 4 versions per base
    assert(viewRows(b) === directJoin(b), "range fold diverged from the direct join")
    assert(viewRows(b) === viewRows(a), "range fold diverged from per-version maintenance")
    assert(b.view.commitVersions().size === 2,
      s"a 4-version-lag catch-up must commit once per base, got ${b.view.commitVersions().size}")
    assert(a.view.commitVersions().size > 2, "positive control: per-advance maintenance commits more")
    assert(JoinView.decode(b.view.lastCommit().get.batchId) === (4L, 4L))
  }

  test("crash mid-catch-up: resuming from the left range's commit completes the right range only") {
    val jv = mkView()
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    JoinView.maintain(spark, jv)
    // left advances and its range commits; the "crash" happens before the
    // right side ever advances — the view durably holds the mid-pair
    // state (laHead, vbOld), exactly what a crash between the two range
    // applies leaves behind
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    JoinView.maintain(spark, jv)
    assert(JoinView.decode(jv.view.lastCommit().get.batchId) === (4L, 2L))
    // recovery: right advances, maintain folds ONLY the right range
    CdcPipeline.replay(spark, rightEvents(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    val before = jv.view.commitVersions().size
    JoinView.maintain(spark, jv)
    assert(jv.view.commitVersions().size === before + 1, "resume must cost one commit")
    assert(JoinView.decode(jv.view.lastCommit().get.batchId) === (4L, 4L))
    assert(viewRows(jv) === directJoin(jv), "resumed view diverged")
  }

  test("counterpart rebuilt below the reflected version fails loudly instead of folding against empty") {
    val jv = mkView()
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    JoinView.maintain(spark, jv) // view reflects (2, 2)
    // rebuild the right base IN PLACE: head regresses to 1 < reflected 2
    graft.core.Fs.deleteTree(java.nio.file.Paths.get(jv.right.root))
    val rebuilt = new LakeTable(jv.right.root, numBuckets = 2, keyCols = Seq("lang"))
    CdcPipeline.replay(spark, rightEvents(1 to 30).toDF(), rebuilt, 1)
    // left advances, so maintain MUST fold left deltas against right@2 —
    // which no longer exists; round-3 ADVICE: this used to read as an
    // empty counterpart and silently corrupt the view
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    val ex = intercept[IllegalStateException](JoinView.maintain(spark, jv))
    assert(ex.getMessage.contains("rebuild"))
  }

  test("a STEPPING base rebuilt below the reflected version fails loudly too") {
    // review finding on the counterpart guard: the rebuilt base can also
    // be the STEPPING side — its fold would silently never run (head <
    // reflected → zero steps, batchId-fenced forever) while the OTHER
    // side's folds land on state reflecting the old table. The
    // maintain-level head-regression guard covers both sides.
    val jv = mkView()
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    JoinView.maintain(spark, jv) // view reflects (2, 2)
    graft.core.Fs.deleteTree(java.nio.file.Paths.get(jv.left.root))
    val rebuilt = new LakeTable(jv.left.root, numBuckets = 4)
    CdcPipeline.replay(spark, leftEvents(1 to 30).toDF(), rebuilt, 1)
    CdcPipeline.replay(spark, rightEvents(61 to 120).toDF(), jv.right,
      numBatches = 2, startBatchId = 2)
    val ex = intercept[IllegalStateException](JoinView.maintain(spark, jv))
    assert(ex.getMessage.contains("rebuild"))
  }

  test("large-delta fold semi-join-prunes the counterpart: scanned once, never shuffled") {
    // counterpart (left) = 20k rows with ~1 KB payloads; delta (right
    // bootstrap step 2) = 1500 distinct join values > MaxJoinValuePushdown,
    // so the literal-isin path is OFF and the fold must take the
    // broadcast-semi-join prune. The honest scale observable: shuffle
    // bytes during the fold stay far below the counterpart's size (the
    // pruned probe is the only wide thing that moves).
    assert(1500 > JoinView.MaxJoinValuePushdown)
    val root = Files.createTempDirectory("jv-prune").toString
    val jv = DerivedJoinView(
      view = new LakeTable(s"$root/view", numBuckets = 4,
        keyCols = Seq("l_repo", "l_path", "r_lang")),
      left = new LakeTable(s"$root/left", numBuckets = 4),
      right = new LakeTable(s"$root/right", numBuckets = 2, keyCols = Seq("lang")),
      leftOn = "lang", rightOn = "lang",
      leftCols = Seq("repo", "path", "lang", "content"),
      rightCols = Seq("lang", "owner"))
    val pad = "x" * 1024
    val bigLeft = (1 to 20000).map(i =>
      FlatEvent(s"repo$i", s"f$i.txt", f"c$i%010d", s"L$i", s"$pad-$i", "c",
        i % 4, i.toLong, 1700000000000L + i))
    CdcPipeline.replay(spark, bigLeft.toDF(), jv.left, 1)
    // right v1: one row (gets the left fold + a small right fold done
    // cheaply, outside the measured window)
    CdcPipeline.replay(spark, Seq(DimEvent("L1", "team0", "c0000000001", "u", 0, 1L,
      1700000000001L)).toDF(), jv.right, 1)
    JoinView.maintain(spark, jv)
    // right v2: 1500 fresh join values — the measured large-delta fold
    val dimWave = (1 to 1500).map(i =>
      DimEvent(s"L$i", s"team${i % 7}", f"c${1000 + i}%010d", "u", i % 2, 1000L + i,
        1700000001000L + i))
    CdcPipeline.replay(spark, dimWave.toDF(), jv.right, numBatches = 1,
      startBatchId = 1)
    val moved = shuffleBytes(JoinView.maintain(spark, jv))
    assert(viewRows(jv) === directJoin(jv), "pruned large-delta fold diverged")
    val cpBytes = 20000L * 1024L
    assert(moved < cpBytes / 3,
      f"large-delta fold moved $moved%,d shuffle bytes — the ~${cpBytes}%,d-byte counterpart leaked into an exchange")
  }

  test("expired history below the reflected version fails loudly (rebuild contract)") {
    val jv = mkView()
    CdcPipeline.replay(spark, leftEvents(1 to 60).toDF(), jv.left, 2)
    CdcPipeline.replay(spark, rightEvents(1 to 60).toDF(), jv.right, 2)
    JoinView.maintain(spark, jv)
    CdcPipeline.replay(spark, leftEvents(61 to 120).toDF(), jv.left,
      numBatches = 2, startBatchId = 2)
    jv.left.expireSnapshots(keepLast = 1) // drops v2..v3 — the view's catch-up segments
    val ex = intercept[IllegalStateException](JoinView.maintain(spark, jv))
    assert(ex.getMessage.contains("rebuild"))
  }
}
