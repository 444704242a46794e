package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own machinery: input generation, the
  * percentile rule, self-time accounting and the output checks. Run with
  * `sbt test` in the benchmark directory. */
class SelfTestSuite extends AnyFunSuite {

  test("tally generator is deterministic for a seed and differs across seeds") {
    def batches(seed: Long) = {
      val g = new TallyGen(seed, preload = 1000, rotation = 10, coldPerSec = 5, hot = 50, theta = 0.8,
        ttlSecs = 15, warmBatches = 3, warmStep = 3)
      val bs = (0 until 20).map(_ => g.next().toSeq)
      (bs, g.expected, g.evicted.toSeq)
    }
    assert(batches(7) == batches(7))
    assert(batches(7)._1 != batches(8)._1)
  }

  test("tally generator preloads, rotates and advances its clock faster while warming up") {
    val g = new TallyGen(1, preload = 4, rotation = 2, coldPerSec = 1, hot = 0, theta = 0.8,
      ttlSecs = 3, warmBatches = 1, warmStep = 3)
    assert(g.next().map(_._1).toSeq == Seq(0L, 1L, 2L, 3L) && g.step == 1)
    // clock seconds 2, 3, 4 pass: slots 0, 1, 0 of the rotation, and 3 cold keys
    assert(g.next().map(_._1).toSeq == Seq(0L, 2L, 1L, 3L, 0L, 2L, 4L, 5L, 6L) && g.step == 3)
    assert(g.next().map(_._1).toSeq == Seq(1L, 3L, 7L) && g.step == 1)
  }

  test("document generator is deterministic for a seed and plants near-duplicates") {
    def docs(seed: Long) = { val g = new DocGen(seed, docsPerBatch = 50); (0 until 10).flatMap(_ => g.next().toSeq) }
    assert(docs(3) == docs(3))
    assert(docs(3) != docs(4))
    val texts = docs(3).map(_._2.split(' ').toSet)
    val near = for (i <- texts.indices; j <- 0 until i
                    if (texts(i) & texts(j)).size * 2 > (texts(i) | texts(j)).size) yield (j, i)
    assert(near.nonEmpty, "planted clusters must produce pairs above Jaccard 0.5")
  }

  test("tally model applies TTL and restarts as the provider does") {
    // clock 1: keys 0-3 preloaded; then one second per batch, rotation
    // touches keys 0,2 and 1,3 alternately and one cold key 4, 5, ... is
    // created per batch
    val g = new TallyGen(1, preload = 4, rotation = 2, coldPerSec = 1, hot = 0, theta = 0.8,
      ttlSecs = 3, warmBatches = 0, warmStep = 1)
    (0 until 5).foreach(_ => g.next()) // cold key 4 last touched at clock 2, now clock 5
    assert(g.expected.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    g.next() // clock 6: key 4 idle for 4 > 3 seconds, swept at commit
    assert(g.expected.keySet == Set(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L))
    assert(g.evicted.toSeq == Seq(0, 0, 0, 0, 0, 1) && g.residentAfter.last == 8)
    assert(g.expected(0L)._1 == 4L, "key 0: preloaded, then touched at clocks 2, 4 and 6")
    g.restarted() // new providers: every key left starts a fresh window
    (0 until 5).foreach(_ => g.next())
    assert(Set(5L, 6L, 7L, 8L).subsetOf(g.expected.keySet), "untouched keys never expire after a restart")
    assert(!g.expected.contains(9L), "keys touched after the restart expire again")
    assert((0L to 3L).forall(g.expected.contains), "rotated keys stay resident")
  }

  test("percentile rule keeps at least ten samples beyond the reported percentile") {
    for (p <- Seq(0.5, 0.75, 0.9, 0.95); n <- 1 to 400) {
      assert((Stats.beyond(n, p) >= Stats.MinBeyond) == (n >= Stats.minSamples(p)), s"p=$p n=$n")
    }
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.75) == 40)
    // every run keeps ten samples beyond its median and times enough
    // snapshot or base commits for the cadence median
    val firstTimed = StreamLoop.SetupBatches + StreamLoop.JitWarmup
    for (w <- Main.Names; seconds <- 1 to 60) {
      val n = Workloads.timedBatches(w, seconds)
      val cadence = Workloads.cadence(w)
      assert(Stats.beyond(n, 0.5) >= Stats.MinBeyond)
      assert((firstTimed until firstTimed + n).count(b => (b + 1) % cadence == 0) >= Workloads.MinCadenceSamples)
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) == 10)
  }

  test("recorded self time equals the reference on a synthetic span tree") {
    // store.get [0,100) with backend.get [10,40) and backend.get [50,60);
    // store.commit [100,200) with backend.commit [110,190) holding
    // kvclient.writeBatch [120,150)
    var now = 0L
    Trace.clock = () => now
    Trace.reset()
    Trace.enabled = true
    def at[T](t: Long)(body: => T): T = { now = t; body }
    try {
      at(0)(Trace.span("store.get", 5, 1) {
        at(10)(Trace.span("backend.get")(at(40)(())))
        at(50)(Trace.span("backend.get")(at(60)(())))
        at(100)(())
      })
      at(100)(Trace.span("store.commit", 5, 1) {
        at(110)(Trace.span("backend.commit") {
          at(120)(Trace.span("kvclient.writeBatch")(at(150)(())))
          at(190)(())
        })
        at(200)(())
      })
    } finally { Trace.enabled = false; Trace.clock = () => System.nanoTime() }
    val spans = Seq(
      SelfTime.Span(1, 0, "store.get", 0, 100), SelfTime.Span(2, 1, "backend.get", 10, 40),
      SelfTime.Span(3, 1, "backend.get", 50, 60), SelfTime.Span(4, 0, "store.commit", 100, 200),
      SelfTime.Span(5, 4, "backend.commit", 110, 190), SelfTime.Span(6, 5, "kvclient.writeBatch", 120, 150))
    val ref = SelfTime.reference(spans)
    val refByName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => ref(s.id)).sum }
    val agg = Trace.snapshot()
    val gotByName = agg.groupBy(_._1.name).map { case (n, as) => n -> as.values.map(_.selfNs).sum }
    assert(gotByName == refByName)
    assert(refByName == Map("store.get" -> 60L, "backend.get" -> 40L, "store.commit" -> 20L,
      "backend.commit" -> 50L, "kvclient.writeBatch" -> 30L))
    // children inherit batch and partition, and are keyed by their parent
    assert(agg.keySet.contains(Trace.Key(5, 1, "kvclient.writeBatch", "backend.commit")))
    assert(agg(Trace.Key(5, 1, "backend.get", "store.get")).count == 2)
  }

  test("reference self time clips and merges overlapping children") {
    val spans = Seq(SelfTime.Span(1, 0, "p", 0, 100), SelfTime.Span(2, 1, "c", 20, 60),
      SelfTime.Span(3, 1, "c", 40, 80), SelfTime.Span(4, 1, "c", 90, 130))
    assert(SelfTime.reference(spans)(1) == 100 - 60 - 10)
  }

  test("tally check accepts the right state and rejects planted wrong answers") {
    val want = Map(1L -> ((2L, 10L)), 2L -> ((1L, 5L)))
    assert(Checks.tally(want, want).isEmpty)
    assert(Checks.tally(want.updated(1L, (2L, 11L)), want).nonEmpty, "wrong sum")
    assert(Checks.tally(want.updated(1L, (3L, 10L)), want).nonEmpty, "wrong count")
    assert(Checks.tally(want - 2L, want).nonEmpty, "key lost")
    assert(Checks.tally(want + (3L -> ((1L, 1L))), want).nonEmpty, "key that should have expired")
  }

  test("pair check accepts the batch pairs and rejects planted wrong answers") {
    val want = Set((1L, 2L), (3L, 7L))
    assert(Checks.pairs(want, want).isEmpty)
    assert(Checks.pairs(want - ((3L, 7L)), want).nonEmpty, "missed pair")
    assert(Checks.pairs(want + ((4L, 5L)), want).nonEmpty, "spurious pair")
    assert(Checks.pairs(Set.empty, Set.empty).nonEmpty, "a workload with nothing to find checks nothing")
  }
}
