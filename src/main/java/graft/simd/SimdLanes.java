package graft.simd;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.VectorSpecies;

/**
 * Query-parallel dot / L2-squared sums of ONE stored vector against a
 * whole query block, with one QUERY PER SIMD LANE -- the batch
 * brute-force scan's scoring kernel (one corpus row against every query
 * of a broadcast block).
 *
 * Bit-identity contract (the same as {@link SimdArgmin}'s): lane c
 * accumulates query c's terms in element order 0..dims-1 with one f64
 * accumulator, exactly the scalar sequential kernel's order for that
 * query, so every per-query sum is bit-equal to
 * {@code VectorKernels.distance} over the same pair.
 * <ul>
 *   <li>dot: {@code fma(x, q, acc)}. The product of two f32 values is
 *   exact in f64 (24 + 24 significand bits), so the fused op rounds
 *   exactly like the scalar {@code acc + x * q}.</li>
 *   <li>L2-squared: unfused {@code d = x - q; acc + d * d}, each a
 *   separate IEEE op (the Vector API never fuses them).</li>
 * </ul>
 * Which lane a query sits in never changes its value, so the preferred
 * species is used and results are the same on every host.
 *
 * Table layout ({@link #table}): queries split into groups -- blocks of
 * {@code CHAINS * laneCount()} queries, then at most one group of
 * {@code laneCount()} -- and group g starting at query cb with width w
 * stores query c's element i at {@code cb * dims + i * w + (c - cb)}:
 * each group is one contiguous stream the inner loop walks in order.
 * Padded query columns are zero; their sums are garbage the caller must
 * ignore.
 *
 * Lives in its own class so a JVM without {@code jdk.incubator.vector}
 * fails at class load inside the caller's probe and falls back to the
 * scalar path.
 */
public final class SimdLanes {

  private static final VectorSpecies<Double> SP = DoubleVector.SPECIES_PREFERRED;

  /** Independent accumulator vectors per block: hides the FMA/add
   * latency behind CHAINS * laneCount() queries in flight. */
  public static final int CHAINS = 4;

  private SimdLanes() {}

  public static int laneCount() {
    return SP.length();
  }

  /** Lanes the table holds for {@code nq} queries: whole blocks, then
   * a remainder of at most one lane group padded to one group, or a
   * larger one padded to a whole block. */
  public static int paddedCount(int nq) {
    int lanes = SP.length();
    int wide = lanes * CHAINS;
    int full = nq / wide * wide;
    int rem = nq - full;
    return full + (rem == 0 ? 0 : rem <= lanes ? lanes : wide);
  }

  /** Width of the group starting at {@code cb}. */
  private static int groupWidth(int nqPad, int cb) {
    int wide = SP.length() * CHAINS;
    return nqPad - cb >= wide ? wide : SP.length();
  }

  /** The f64-widened, group-contiguous query table (see class doc);
   * every query must have {@code dims} elements. */
  public static double[] table(float[][] qs, int dims) {
    int nq = qs.length;
    int nqPad = paddedCount(nq);
    double[] t = new double[nqPad * dims];
    int cb = 0;
    while (cb < nqPad) {
      int w = groupWidth(nqPad, cb);
      int end = Math.min(cb + w, nq);
      for (int c = cb; c < end; c++) {
        float[] q = qs[c];
        int at = cb * dims + (c - cb);
        for (int i = 0; i < dims; i++) {
          t[at] = (double) q[i];
          at += w;
        }
      }
      cb += w;
    }
    return t;
  }

  /** sums[c] = dot(v[0..dims), query c) for every padded lane c. */
  public static void dot(double[] table, int nqPad, float[] v, int dims,
      double[] sums) {
    int lanes = SP.length();
    int cb = 0;
    while (cb < nqPad) {
      int w = groupWidth(nqPad, cb);
      int base = cb * dims;
      if (w == lanes) {
        DoubleVector acc = DoubleVector.zero(SP);
        for (int i = 0; i < dims; i++) {
          DoubleVector x = DoubleVector.broadcast(SP, (double) v[i]);
          acc = x.fma(DoubleVector.fromArray(SP, table, base), acc);
          base += w;
        }
        acc.intoArray(sums, cb);
      } else {
        DoubleVector acc0 = DoubleVector.zero(SP);
        DoubleVector acc1 = DoubleVector.zero(SP);
        DoubleVector acc2 = DoubleVector.zero(SP);
        DoubleVector acc3 = DoubleVector.zero(SP);
        for (int i = 0; i < dims; i++) {
          DoubleVector x = DoubleVector.broadcast(SP, (double) v[i]);
          acc0 = x.fma(DoubleVector.fromArray(SP, table, base), acc0);
          acc1 = x.fma(DoubleVector.fromArray(SP, table, base + lanes), acc1);
          acc2 = x.fma(DoubleVector.fromArray(SP, table, base + 2 * lanes), acc2);
          acc3 = x.fma(DoubleVector.fromArray(SP, table, base + 3 * lanes), acc3);
          base += w;
        }
        acc0.intoArray(sums, cb);
        acc1.intoArray(sums, cb + lanes);
        acc2.intoArray(sums, cb + 2 * lanes);
        acc3.intoArray(sums, cb + 3 * lanes);
      }
      cb += w;
    }
  }

  /** sums[c] = l2sq(v[0..dims), query c) for every padded lane c. */
  public static void l2sq(double[] table, int nqPad, float[] v, int dims,
      double[] sums) {
    int lanes = SP.length();
    int cb = 0;
    while (cb < nqPad) {
      int w = groupWidth(nqPad, cb);
      int base = cb * dims;
      if (w == lanes) {
        DoubleVector acc = DoubleVector.zero(SP);
        for (int i = 0; i < dims; i++) {
          DoubleVector x = DoubleVector.broadcast(SP, (double) v[i]);
          DoubleVector d = x.sub(DoubleVector.fromArray(SP, table, base));
          acc = acc.add(d.mul(d));
          base += w;
        }
        acc.intoArray(sums, cb);
      } else {
        DoubleVector acc0 = DoubleVector.zero(SP);
        DoubleVector acc1 = DoubleVector.zero(SP);
        DoubleVector acc2 = DoubleVector.zero(SP);
        DoubleVector acc3 = DoubleVector.zero(SP);
        for (int i = 0; i < dims; i++) {
          DoubleVector x = DoubleVector.broadcast(SP, (double) v[i]);
          DoubleVector d0 = x.sub(DoubleVector.fromArray(SP, table, base));
          DoubleVector d1 = x.sub(DoubleVector.fromArray(SP, table, base + lanes));
          DoubleVector d2 = x.sub(DoubleVector.fromArray(SP, table, base + 2 * lanes));
          DoubleVector d3 = x.sub(DoubleVector.fromArray(SP, table, base + 3 * lanes));
          acc0 = acc0.add(d0.mul(d0));
          acc1 = acc1.add(d1.mul(d1));
          acc2 = acc2.add(d2.mul(d2));
          acc3 = acc3.add(d3.mul(d3));
          base += w;
        }
        acc0.intoArray(sums, cb);
        acc1.intoArray(sums, cb + lanes);
        acc2.intoArray(sums, cb + 2 * lanes);
        acc3.intoArray(sums, cb + 3 * lanes);
      }
      cb += w;
    }
  }
}
