package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Components, Dbscan, DistributedDbscan}

/** Clustering parity with the reference.
  * References: tests/test_gps.py:552-580 (home/work at exactly
  * 40.00015, -45.0 from the 7-row fixture ×100), gscap/gps.py:1823-1826
  * (eps 0.005 degrees euclidean, min_samples 100), tests/test_gps.py:48-56 +
  * 76-92 (gen_cluster home/work layout).
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** tests/some_gps.csv lat values ×100 at one timestamp (test_gps.py:552-566). */
  private val fixtureLats = Seq(40.0, 40.0001, 40.0002, 40.0003, 40.01, 40.02, 40.03)

  test("DBSCAN: 700-point fixture clusters and sklearn-order labels") {
    val pts = (0 until 100).flatMap(_ => fixtureLats).map(l => (l, -45.0)).toArray
    val labels = Dbscan.run(pts, 0.005, 100)
    // {40.0..40.0003} merge into one cluster (label 0, first core at index 0);
    // 40.01/40.02/40.03 are 100-point clusters of identical coords
    assert(labels.length === 700)
    assert(labels.toSet === Set(0, 1, 2, 3))
    assert(labels(0) === 0 && labels(1) === 0 && labels(2) === 0 && labels(3) === 0)
    assert(labels(4) === 1 && labels(5) === 2 && labels(6) === 3)
    assert(Dbscan.topCluster(labels) === Some(0))
  }

  test("estimate-home semantics: top cluster center = (40.00015, -45.0) (test_gps.py:552-566)") {
    val rows = (0 until 100).flatMap(_ => fixtureLats).zipWithIndex.map { case (l, i) =>
      Clustering.EnrichedPoint(1L, i.toLong, Timestamp.valueOf("2005-01-01 04:04:00"), l, -45.0, "stationary")
    }
    val (records, clusters) = Clustering.contextForUser(1L, rows, 0.005, 100, 500.0)
    val home = clusters.find(_.cid == "home").get
    assert(home.lat === 40.00015)
    assert(home.lon === -45.0)
    assert(home.name === "home")
    // fence: every fixture point is within 500 m of (40.00015, -45) except 40.01+?
    // 40.01 is ~1.1 km away → not home
    val homeIds = records.filter(_.cid == "home").map(_.lat).toSet
    assert(homeIds === Set(40.0, 40.0001, 40.0002, 40.0003))
    // record count conservation (gps.py:1241)
    assert(records.length === 700)
  }

  test("work sanity: 9-17 weekday fixture yields work cluster (test_gps.py:568-580)") {
    // 2005-01-03 is a Monday
    val rows = (0 until 100).flatMap(_ => fixtureLats).zipWithIndex.map { case (l, i) =>
      Clustering.EnrichedPoint(1L, i.toLong, Timestamp.valueOf("2005-01-03 12:04:00"), l, -45.0, "stationary")
    }
    val (_, clusters) = Clustering.contextForUser(1L, rows, 0.005, 100, 500.0)
    val work = clusters.find(_.cid == "work").get
    assert(work.lat === 40.00015)
    assert(work.lon === -45.0)
    assert(clusters.exists(_.cid == "home") === false) // no night hours present
  }

  test("gen_cluster-style fixture: home and work separated and labeled (test_gps.py:48-56)") {
    // deterministic LCG jitter ±2e-4 — same layout as the reference generator:
    // home at (0,0) hours 1-6,18-23; work at (0.5,0.5) hours 8-11,13-16
    var seed = 42L
    def next(): Double = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 4e-4 }
    var id = 0L
    def gen(lat: Double, lon: Double, hours: Seq[Int]) =
      for (d <- 1 to 6; h <- hours; m <- 0 until 60 by 3) yield {
        id += 1
        Clustering.EnrichedPoint(7L, id, Timestamp.valueOf(f"2019-01-0$d $h%02d:$m%02d:00"), lat + next(), lon + next(), "stationary")
      }
    val rows = gen(0.0, 0.0, Seq(1,2,3,4,5,18,19,20,21,22,23)) ++ gen(0.5, 0.5, Seq(8,9,10,11,13,14,15,16))
    val (records, clusters) = Clustering.contextForUser(7L, rows, 0.005, 100, 500.0)
    val home = clusters.find(_.cid == "home").get
    val work = clusters.find(_.cid == "work").get
    assert(math.abs(home.lat) < 1e-3 && math.abs(home.lon) < 1e-3)
    assert(math.abs(work.lat - 0.5) < 1e-3 && math.abs(work.lon - 0.5) < 1e-3)
    // all home-site points fenced to home, work-site points to work
    assert(records.count(_.cid == "home") > 0)
    assert(records.count(_.cid == "work") > 0)
    assert(records.length === rows.length)
    // referential integrity (gps.py:1256-1261): record cids ⊆ cluster cids + xNot
    val rc = records.map(_.cid).toSet - "xNot"
    assert(rc.subsetOf(clusters.map(_.cid).toSet))
  }

  test("distance_from_home measured from rounded home center (gps.py:1264-1270)") {
    val rows = (0 until 100).flatMap(_ => fixtureLats).zipWithIndex.map { case (l, i) =>
      Clustering.EnrichedPoint(1L, i.toLong, Timestamp.valueOf("2005-01-01 04:04:00"), l, -45.0, "stationary")
    }
    val (records, _) = Clustering.contextForUser(1L, rows, 0.005, 100, 500.0)
    val r40 = records.find(_.lat == 40.0).get
    assert(math.abs(r40.distance_from_home.get - Clustering.haversine(40.00015, -45.0, 40.0, -45.0)) < 1e-9)
  }

  test("np.percentile fraction quirk and npRound half-even") {
    // percentile(q in PERCENT): the reference passes 0.25/0.75 as percents
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    assert(Clustering.percentile(vals, 25.0) === 2.0)
    assert(math.abs(Clustering.percentile(vals, 0.25) - 1.01) < 1e-12)
    assert(Clustering.npRound(0.5, 0) === 0.0) // half-even
    assert(Clustering.npRound(1.5, 0) === 2.0)
    assert(Clustering.npRound(2.5, 0) === 2.0)
  }

  test("distributed DBSCAN matches exact DBSCAN partitions") {
    var seed = 7L
    def next(): Double = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 4e-3 }
    // three blobs of 60 + 30 noise points
    val blobs = Seq((0.0, 0.0), (0.1, 0.1), (-0.2, 0.05)).flatMap { case (la, lo) =>
      (0 until 60).map(_ => (la + next(), lo + next()))
    }
    val noise = (0 until 30).map(i => (5.0 + i * 0.3, 5.0 - i * 0.2))
    val pts = (blobs ++ noise).toArray
    val exact = Dbscan.run(pts, 0.005, 20)
    val df = pts.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }.toSeq.toDF("id", "lat", "lon")
    val dist = DistributedDbscan.run(df, 0.005, 20).collect()
      .map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
    // same noise set
    assert(pts.indices.filter(exact(_) == -1).toSet === pts.indices.filter(dist(_) == -1).toSet)
    // same partition structure (label values may differ)
    val exactGroups = pts.indices.filter(exact(_) != -1).groupBy(exact(_)).values.map(_.toSet).toSet
    val distGroups  = pts.indices.filter(dist(_) != -1).groupBy(dist(_)).values.map(_.toSet).toSet
    assert(exactGroups === distGroups)
  }

  test("distributed CC branch: chain across many cells converges to one cluster") {
    // a 10-cell chain with ids increasing along it — the directed a<b pair
    // filter then yields only low-rep → high-rep edges, so a one-directional
    // edge set would strand the min label at the head (regression for the
    // crossEdges symmetrization); force the distributed branch past the
    // union-find shortcut
    val chain = (0 to 10).flatMap(k => (0 until 25).map(j => (0.0 + j * 1e-7, k * 3e-3)))
    val pts = chain.toArray
    val exact = Dbscan.run(pts, 0.005, 20)
    val df = pts.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }.toSeq.toDF("id", "lat", "lon")
    spark.conf.set("graft.cc.unionFindMaxEdges", "0")
    try {
      val dist = DistributedDbscan.run(df, 0.005, 20).collect()
        .map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
      val exactGroups = pts.indices.filter(exact(_) != -1).groupBy(exact(_)).values.map(_.toSet).toSet
      val distGroups  = pts.indices.filter(dist(_) != -1).groupBy(dist(_)).values.map(_.toSet).toSet
      assert(exactGroups === distGroups)
      assert(distGroups.size === 1) // the whole chain is one component
    } finally spark.conf.unset("graft.cc.unionFindMaxEdges")
  }

  test("distributed DBSCAN component budget: over-budget fails, at-budget passes (r6 single-collect guard)") {
    // three clusters; budget 2 must trip the require, budget 3 must pass —
    // pins the limit(max+1)-collect guard that replaced the count+collect
    // pair (the driver may never hold more than maxComponents+1 rows)
    var seed = 11L
    def next(): Double = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 4e-3 }
    val blobs = Seq((0.0, 0.0), (0.1, 0.1), (-0.2, 0.05)).flatMap { case (la, lo) =>
      (0 until 60).map(_ => (la + next(), lo + next()))
    }
    val df = blobs.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }.toSeq.toDF("id", "lat", "lon")
    spark.conf.set("graft.dbscan.maxComponents", "2")
    try {
      val e = intercept[IllegalArgumentException] { DistributedDbscan.run(df, 0.005, 20).collect() }
      assert(e.getMessage.contains("maxComponents"))
      // the capped collect stops at maxComponents+1 rows: that is the count
      // the message can report
      assert(e.getMessage.contains("at least 3 DBSCAN components"), e.getMessage)
      spark.conf.set("graft.dbscan.maxComponents", "3")
      val labels = DistributedDbscan.run(df, 0.005, 20).collect().map(_.getInt(1)).toSet
      assert(labels === Set(0, 1, 2))
    } finally spark.conf.unset("graft.dbscan.maxComponents")
  }

  test("next-phase clusters continue numbering and respect the 100 m anti-join (gps.py:1507-1561)") {
    // phase 1 makes home at fixtureLats; leave 150 unlabeled stationary
    // points at a spot >100 m from everything → next phase clusters them
    val base = (0 until 100).flatMap(_ => fixtureLats).zipWithIndex.map { case (l, i) =>
      Clustering.EnrichedPoint(1L, i.toLong, Timestamp.valueOf("2005-01-01 04:04:00"), l, -45.0, "stationary")
    }
    val far = (0 until 150).map { i =>
      Clustering.EnrichedPoint(1L, (1000 + i).toLong, Timestamp.valueOf("2005-01-01 12:04:00"),
        40.2 + (i % 10) * 1e-5, -45.2, "stationary")
    }
    val near = (0 until 150).map { i => // within 100 m of home center → excluded
      Clustering.EnrichedPoint(1L, (2000 + i).toLong, Timestamp.valueOf("2005-01-01 12:30:00"),
        40.0005, -45.0, "stationary")
    }
    // phase 1 at min_samples 200 leaves the 150-point far blob as xNot;
    // next phase at min_samples 100 picks it up per day
    val (recs, clusters) = Clustering.contextForUser(1L, base ++ far ++ near, 0.005, 200, 500.0)
    val (recs2, all) = Clustering.nextPhaseForUser(recs, clusters, 0.005, 100, 100.0)
    val newCids = all.map(_.cid).toSet -- clusters.map(_.cid).toSet
    assert(newCids.nonEmpty)
    // numbering continues from phase 1's max x<k>
    val phase1Max = clusters.map(_.cid).filter(_.matches("x\\d+")).map(_.drop(1).toInt)
      .foldLeft(-1)(math.max)
    newCids.foreach(c => assert(c.drop(1).toInt > phase1Max))
    // the far blob got labeled, the near blob stayed xNot
    assert(recs2.filter(r => r.event_id >= 1000 && r.event_id < 1150).forall(_.cid != "xNot"))
    assert(recs2.filter(_.event_id >= 2000).forall(r => r.cid == "xNot" || r.cid == "home"))
  }

  test("runWithCore: core flags match brute-force weighted degree; core labels are scan-order") {
    // two dense blobs + noise; duplicates exercise the weighted reduction
    val pts = ((0 until 30).map(i => (40.0 + (i % 5) * 1e-3, -75.0)) ++
      (0 until 25).map(i => (40.1 + (i % 5) * 1e-3, -75.1)) ++
      Seq((50.0, 10.0), (60.0, 20.0))).toArray
    val (labels, core) = Dbscan.runWithCore(pts, eps = 0.005, minSamples = 10)
    // brute-force core: |{j : dist² ≤ eps²}| ≥ minSamples (incl. self)
    pts.indices.foreach { i =>
      val deg = pts.count { p =>
        val dy = pts(i)._1 - p._1; val dx = pts(i)._2 - p._2
        dy * dy + dx * dx <= 0.005 * 0.005
      }
      assert(core(i) === (deg >= 10), s"core flag at $i")
    }
    // scan-order numbering: first blob is cluster 0, second is 1; noise -1
    assert(pts.indices.filter(core).map(labels).toSet === Set(0, 1))
    assert(labels(0) === 0 && labels(35) === 1 && labels(55) === -1 && labels(56) === -1)
    // labels(i) for core i equals rank of the cluster's min core index
    val minCoreByLabel = pts.indices.filter(core).groupBy(labels).view.mapValues(_.min).toMap
    assert(minCoreByLabel.toSeq.sortBy(_._2).map(_._1) === Seq(0, 1))
  }

  test("runWithCore: lone point is core under minSamples <= 1 (sklearn parity)") {
    // sklearn: a single sample with min_samples=1 has weighted degree 1 ≥ 1
    // → core, cluster 0; the SQL twin's self-pair agrees. minSamples=2 →
    // non-core noise. An unconditional n<2 early return diverged here.
    val lone = Array((40.0, -75.0))
    val (l1, c1) = Dbscan.runWithCore(lone, eps = 0.005, minSamples = 1)
    assert(l1.toSeq === Seq(0) && c1.toSeq === Seq(true))
    val (l2, c2) = Dbscan.runWithCore(lone, eps = 0.005, minSamples = 2)
    assert(l2.toSeq === Seq(-1) && c2.toSeq === Seq(false))
    // empty input stays well-formed
    val (l0, c0) = Dbscan.runWithCore(Array.empty[(Double, Double)], 0.005, 1)
    assert(l0.isEmpty && c0.isEmpty)
  }

  test("userDbscanCores: per-user core membership matches the local kernel") {
    val rows = (0 until 40).map { i =>
      (1L, i.toLong, 40.0 + (i % 4) * 1e-3, -75.0)
    } ++ (0 until 40).map { i =>
      (2L, (100 + i).toLong, 41.0 + (i % 4) * 1e-3, -76.0)
    } ++ Seq((1L, 500L, 55.0, 5.0)) // isolated noise point, never core
    val df = rows.toDF("user_id", "event_id", "lat", "lon")
    val out = Clustering.userDbscanCores(df, eps = 0.005, minSamples = 10).collect()
    assert(out.forall(_.label === 0)) // one cluster per user
    assert(out.filter(_.user_id == 1L).map(_.event_id).sorted.toSeq === (0L until 40L))
    assert(out.filter(_.user_id == 2L).map(_.event_id).sorted.toSeq === (100L until 140L))
    assert(!out.exists(_.event_id == 500L))
  }

  test("distributed CC fails loudly at the round cap and converges by default (64-node path)") {
    val nodes = (0L until 64L).toDF("uid")
    val edges = (0L until 63L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a_uid", "b_uid")
    val e = intercept[IllegalStateException] {
      Components.minLabel(nodes, edges, maxIters = 2)
    }
    assert(e.getMessage.contains("2 rounds"), e.getMessage)
    assert(e.getMessage.matches(".*: [1-9][0-9]* labels still changing"), e.getMessage)
    val comp = Components.minLabel(nodes, edges).as[(Long, Long)].collect()
    assert(comp.map(_._1).sorted.toSeq === (0L until 64L))
    assert(comp.forall(_._2 == 0L))
  }

  test("spark wiring: clustersWithContext runs per user") {
    val rows = (0 until 100).flatMap(_ => fixtureLats).zipWithIndex.flatMap { case (l, i) =>
      Seq(
        Clustering.EnrichedPoint(1L, i.toLong, Timestamp.valueOf("2005-01-01 04:04:00"), l, -45.0, "stationary"),
        Clustering.EnrichedPoint(2L, i.toLong, Timestamp.valueOf("2005-01-01 04:04:00"), l + 1.0, -46.0, "stationary"))
    }
    val df = rows.toDF()
    val (records, clusters) = Clustering.clustersWithContext(df)
    val cl = clusters.collect()
    assert(cl.count(_.cid == "home") === 2)
    assert(cl.find(c => c.user_id == 1L && c.cid == "home").get.lat === 40.00015)
    assert(cl.find(c => c.user_id == 2L && c.cid == "home").get.lat === 41.00015)
    assert(records.count() === rows.length)
  }
}
