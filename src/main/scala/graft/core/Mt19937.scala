package graft.core

/** MT19937 — Matsumoto & Nishimura, "Mersenne Twister: A 623-dimensionally
  * equidistributed uniform pseudo-random number generator" (TOMACS 1998),
  * per the canonical mt19937ar reference (init_genrand / init_by_array /
  * genrand_int32). The REAL algorithm behind the reference's
  * `np.random.MT19937` family name
  * (`parallel_simulations/parallel_simulations.py:121-130`).
  *
  * KAT-verified (Mt19937Spec): `init_genrand(5489)` reproduces the widely
  * published default-seed output sequence (3499211612, 581869302, …), and
  * the generator was cross-validated word-for-word against CPython's MT
  * implementation by raw 624-word state injection (`random.setstate`).
  *
  * MT19937 is a large-state sequential design with no O(log n) jump-ahead
  * (polynomial jump methods exist but cost more than they save at trace
  * lengths), so it backs the engine as a SEQUENTIAL STREAM per
  * (seed, model, sim): each trace row seeds its own generator via the
  * canonical `init_by_array` over the six 32-bit words of the three
  * counters — parallelism across simulations is preserved (streams are
  * independent), and within a trace the kernel consumes draws in step
  * order. Stateless single-point access ([[Rngs.uniform]]) costs O(step)
  * — the documented price of this family; prefer PCG64/Philox/CounterHash
  * when point access matters.
  *
  * Bound: seeding is per trace, and `init_by_array` fills and mixes the
  * whole 624-word state before the first draw. On a 4-core x86 host the
  * benchmark's single-thread probes put one stream construction plus its
  * first draw (`rng.mt19937.init_ns`) at 10–20 µs, against 15–45 ns for
  * PCG64, Philox, SFC64 and CounterHash, while the per-draw cost
  * (`draw_ns`) is similar across all five families. Batteries of many
  * short traces therefore pay 10–20 µs per trace in this family on
  * top of the draws; that is the family's documented bound, not a defect.
  */
final class Mt19937 private (private val mt: Array[Int]) {
  private var idx = 624

  private def generate(): Unit = {
    var i = 0
    while (i < 624) {
      val y = (mt(i) & 0x80000000) | (mt((i + 1) % 624) & 0x7FFFFFFF)
      var n = mt((i + 397) % 624) ^ (y >>> 1)
      if ((y & 1) == 1) n ^= 0x9908B0DF
      mt(i) = n
      i += 1
    }
    idx = 0
  }

  /** Next 32-bit word (tempered), as an unsigned value in a Long. */
  def next32(): Long = {
    if (idx >= 624) generate()
    var y = mt(idx); idx += 1
    y ^= (y >>> 11)
    y ^= (y << 7) & 0x9D2C5680
    y ^= (y << 15) & 0xEFC60000
    y ^= (y >>> 18)
    y.toLong & 0xFFFFFFFFL
  }

  /** Uniform in [0,1) with a 53-bit mantissa from two words — the classic
    * genrand_res53 / NumPy conversion: (a>>5)·2^26 + (b>>6), over 2^53.
    */
  def nextDouble(): Double = {
    val a = next32() >>> 5
    val b = next32() >>> 6
    (a * 67108864.0 + b) / 9007199254740992.0
  }
}

object Mt19937 {
  /** Canonical single-word seeding (init_genrand). */
  def seeded(seed: Int): Mt19937 = {
    val mt = new Array[Int](624)
    mt(0) = seed
    var i = 1
    while (i < 624) {
      mt(i) = 1812433253 * (mt(i - 1) ^ (mt(i - 1) >>> 30)) + i
      i += 1
    }
    new Mt19937(mt)
  }

  /** Canonical multi-word seeding (init_by_array). */
  def seededByArray(key: Array[Int]): Mt19937 = {
    val g = seeded(19650218)
    val mt = g.mt
    var i = 1; var j = 0
    var k = math.max(624, key.length)
    while (k > 0) {
      mt(i) = (mt(i) ^ ((mt(i - 1) ^ (mt(i - 1) >>> 30)) * 1664525)) + key(j) + j
      i += 1; j += 1
      if (i >= 624) { mt(0) = mt(623); i = 1 }
      if (j >= key.length) j = 0
      k -= 1
    }
    k = 623
    while (k > 0) {
      mt(i) = (mt(i) ^ ((mt(i - 1) ^ (mt(i - 1) >>> 30)) * 1566083941)) - i
      i += 1
      if (i >= 624) { mt(0) = mt(623); i = 1 }
      k -= 1
    }
    mt(0) = 0x80000000
    g
  }

  /** Engine stream mapping: the three counters split into six 32-bit
    * key words (low/high halves of each) for init_by_array — injective
    * over the full 64-bit range of all three, so distinct
    * (seed, model, sim) always get independent streams.
    */
  def stream(seed: Long, model: Long, sim: Long): Mt19937 =
    seededByArray(Array(
      seed.toInt, (seed >>> 32).toInt,
      model.toInt, (model >>> 32).toInt,
      sim.toInt, (sim >>> 32).toInt))
}
