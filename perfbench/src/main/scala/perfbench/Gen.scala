package perfbench

/** Deterministic input generators. Everything a workload feeds the program
  * is drawn from a `java.util.SplittableRandom` seeded from `--seed`, so the
  * same seed gives the same batches. The tally generator also keeps the
  * model the output checks compare against. */

/** Keyed events for the `mapGroupsWithState` tally under strict TTL, shaped
  * so that resident state is much larger than what one batch changes.
  *
  * Time is the TTL clock in whole seconds; it advances `warmStep` seconds in
  * each of the first `warmBatches` batches after the first and one second
  * per batch after that, so keys created early have aged past the TTL by
  * the time the measured batches start and every measured batch evicts
  * about the same number of keys. Per batch:
  *
  *  - the first batch preloads keys `0 until preload`, one event each;
  *  - rotation: every preloaded key k is touched whenever the clock passes a
  *    second t with t mod `rotation` == k mod `rotation`. `rotation` is
  *    below the TTL, so preloaded keys stay resident and a batch touches
  *    `preload / rotation` of them per second of clock;
  *  - `coldPerSec` new keys per second of clock that nothing touches again,
  *    so they expire `ttlSecs` later;
  *  - `hot` events on preloaded keys under a power-law skew (rank r drawn
  *    with density proportional to r^-theta, so low ids are hot).
  *
  * The model holds, per key, the tally `(n, sum)` the query must report,
  * including strict-TTL expiry: a key untouched for more than `ttlSecs`
  * seconds is dropped at the next commit, and a restart starts a fresh TTL
  * window for every key still in state (expiry deadlines do not survive
  * recovery, see graft.state.TtlConf). It also keeps, per batch, the
  * distinct keys touched, the keys evicted and the keys resident after the
  * commit. */
final class TallyGen(seed: Long, preload: Int, rotation: Int, coldPerSec: Int, hot: Int, theta: Double,
                     ttlSecs: Int, warmBatches: Int, warmStep: Int) {
  require(rotation < ttlSecs, "rotated keys must be touched within the TTL")
  private val rng = new java.util.SplittableRandom(seed)
  private var cap = math.max(1 << 16, Integer.highestOneBit(preload) * 2)
  private var nKeys = 0
  private var n = new Array[Long](cap)
  private var sum = new Array[Long](cap)
  /** Clock second of the last touch; Untracked after a restart until touched. */
  private var last = new Array[Long](cap)
  private val Untracked = Long.MaxValue
  private var batch = -1L
  private var now = 0L
  private var resident = 0
  /** Clock seconds the next batch advances the TTL clock by. */
  var step: Int = 0
  /** Per batch: distinct keys touched, keys evicted at commit, keys resident after it. */
  val touched, evicted, residentAfter = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def grow(): Unit = {
    cap *= 2
    n = java.util.Arrays.copyOf(n, cap)
    sum = java.util.Arrays.copyOf(sum, cap)
    last = java.util.Arrays.copyOf(last, cap)
  }

  private def newKey(): Int = {
    if (nKeys == cap) grow()
    nKeys += 1
    nKeys - 1
  }

  private def rank(): Int = {
    // inverse CDF of a continuous power law on [1, preload + 1)
    val a = 1.0 - theta
    val hi = math.pow(preload + 1.0, a)
    val r = math.pow(1.0 + rng.nextDouble() * (hi - 1.0), 1.0 / a) - 1.0
    math.min(preload - 1, r.toInt)
  }

  private def expired(k: Int): Boolean = n(k) > 0 && last(k) != Untracked && now - last(k) > ttlSecs

  /** The next batch as (key, value) pairs; updates the model. */
  def next(): Array[(Long, Long)] = {
    batch += 1
    step = if (batch == 0 || batch > warmBatches) 1 else warmStep
    now += step
    val keys = scala.collection.mutable.ArrayBuilder.make[Int]
    if (batch == 0) (0 until preload).foreach(_ => keys += newKey())
    else {
      for (t <- now - step + 1 to now) {
        var k = (t % rotation).toInt
        while (k < preload) { keys += k; k += rotation }
      }
      (0 until coldPerSec * step).foreach(_ => keys += newKey())
      (0 until hot).foreach(_ => keys += rank())
    }
    val ks = keys.result()
    val out = new Array[(Long, Long)](ks.length)
    var distinct = 0
    var i = 0
    while (i < ks.length) {
      val k = ks(i)
      val v = 1L + rng.nextInt(100)
      if (n(k) == 0 || expired(k)) {
        if (n(k) == 0) resident += 1
        n(k) = 1; sum(k) = v
      } else { n(k) += 1; sum(k) += v }
      if (last(k) != now) distinct += 1
      last(k) = now
      out(i) = (k.toLong, v)
      i += 1
    }
    // commit-time sweep: tracked keys idle for longer than the TTL leave state
    var gone = 0
    var k = 0
    while (k < nKeys) {
      if (expired(k)) { n(k) = 0; sum(k) = 0; gone += 1 }
      k += 1
    }
    resident -= gone
    touched += distinct; evicted += gone; residentAfter += resident
    out
  }

  /** A restart: new providers, so every key in state starts untracked. */
  def restarted(): Unit = {
    var k = 0
    while (k < nKeys) { if (n(k) > 0) last(k) = Untracked; k += 1 }
  }

  /** Keys the state must hold now, with their (n, sum). */
  def expected: Map[Long, (Long, Long)] =
    (0 until nKeys).iterator.filter(k => n(k) > 0).map(k => k.toLong -> ((n(k), sum(k)))).toMap
}

/** Documents for the band-bucket workload: words from a large synthetic
  * vocabulary, so unrelated documents share almost no shingles, plus
  * planted near-duplicate clusters. A share of new documents copy an
  * earlier "seed" document with a few words replaced; each seed gets at
  * most `maxCopies` copies, far below the operator's `maxBucketSize`. */
final class DocGen(seed: Long, docsPerBatch: Int, dupShare: Double = 0.15,
                   vocab: Int = 50000, maxCopies: Int = 3) {
  private val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  private var nextId = 0L
  private val seeds = scala.collection.mutable.ArrayBuffer.empty[(Array[Int], Int)]

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.append('q').toString
  }

  def next(): Array[(Long, String)] = Array.fill(docsPerBatch) {
    val id = nextId
    nextId += 1
    val words =
      if (seeds.nonEmpty && rng.nextDouble() < dupShare) {
        val si = rng.nextInt(seeds.size)
        val (base, copies) = seeds(si)
        if (copies + 1 >= maxCopies) seeds.remove(si) else seeds(si) = (base, copies + 1)
        val w = base.clone()
        (0 until math.max(1, w.length / 25)).foreach(_ => w(rng.nextInt(w.length)) = rng.nextInt(vocab))
        w
      } else {
        val w = Array.fill(40 + rng.nextInt(40))(rng.nextInt(vocab))
        seeds += ((w, 0))
        if (seeds.size > 500) seeds.remove(0)
        w
      }
    (id, words.map(word).mkString(" "))
  }
}
