package graft.simd;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD kernels on the Panama vector API (JEP 417, {@code jdk.incubator.vector}).
 * Loaded reflectively by {@link Kernels} so the class never links when the
 * module is absent; do not reference this type directly.
 *
 * Numeric contract vs {@link ScalarKernels}: lanes accumulate in float
 * (two independent accumulator vectors to break the FMA dependency chain),
 * reduced once to double, double tail. Results therefore differ from the
 * scalar kernels in low-order bits — acceptable for the engine paths this
 * seam feeds (recall/threshold gates with slack), NOT for oracle-facing
 * codegen kernels, which bypass this seam (see {@link VectorKernels}).
 * Both required invariants hold by construction: {@code dot}/{@code l2sq}
 * are bit-symmetric (lane multiply is commutative, iteration order fixed)
 * and {@code normSq(a) == dot(a, a)} (same code path).
 */
public final class PanamaKernels implements VectorKernels {
  private static final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;

  @Override
  public double dot(float[] a, float[] b) {
    final int n = a.length;
    final int L = S.length();
    int i = 0;
    double acc = 0.0;
    if (n >= L) {
      FloatVector acc0 = FloatVector.zero(S);
      FloatVector acc1 = FloatVector.zero(S);
      final int upper2 = n - (n % (2 * L));
      for (; i < upper2; i += 2 * L) {
        acc0 = FloatVector.fromArray(S, a, i).fma(FloatVector.fromArray(S, b, i), acc0);
        acc1 = FloatVector.fromArray(S, a, i + L).fma(FloatVector.fromArray(S, b, i + L), acc1);
      }
      final int upper = n - (n % L);
      for (; i < upper; i += L) {
        acc0 = FloatVector.fromArray(S, a, i).fma(FloatVector.fromArray(S, b, i), acc0);
      }
      acc = acc0.add(acc1).reduceLanes(VectorOperators.ADD);
    }
    for (; i < n; i++) acc += (double) a[i] * (double) b[i];
    return acc;
  }

  @Override
  public double l2sq(float[] a, float[] b) {
    final int n = a.length;
    final int L = S.length();
    int i = 0;
    double acc = 0.0;
    if (n >= L) {
      FloatVector acc0 = FloatVector.zero(S);
      FloatVector acc1 = FloatVector.zero(S);
      final int upper2 = n - (n % (2 * L));
      for (; i < upper2; i += 2 * L) {
        FloatVector d0 = FloatVector.fromArray(S, a, i).sub(FloatVector.fromArray(S, b, i));
        FloatVector d1 = FloatVector.fromArray(S, a, i + L).sub(FloatVector.fromArray(S, b, i + L));
        acc0 = d0.fma(d0, acc0);
        acc1 = d1.fma(d1, acc1);
      }
      final int upper = n - (n % L);
      for (; i < upper; i += L) {
        FloatVector d0 = FloatVector.fromArray(S, a, i).sub(FloatVector.fromArray(S, b, i));
        acc0 = d0.fma(d0, acc0);
      }
      acc = acc0.add(acc1).reduceLanes(VectorOperators.ADD);
    }
    for (; i < n; i++) {
      double t = (double) a[i] - (double) b[i];
      acc += t * t;
    }
    return acc;
  }

  @Override
  public double normSq(float[] a) {
    return dot(a, a);
  }

  private static final VectorSpecies<Double> D = DoubleVector.SPECIES_PREFERRED;

  @Override
  public double l2sqD(double[] a, double[] b) {
    final int n = a.length;
    final int L = D.length();
    int i = 0;
    double acc = 0.0;
    if (n >= L) {
      DoubleVector acc0 = DoubleVector.zero(D);
      final int upper = n - (n % L);
      for (; i < upper; i += L) {
        DoubleVector d0 = DoubleVector.fromArray(D, a, i).sub(DoubleVector.fromArray(D, b, i));
        acc0 = d0.fma(d0, acc0);
      }
      acc = acc0.reduceLanes(VectorOperators.ADD);
    }
    for (; i < n; i++) {
      double t = a[i] - b[i];
      acc += t * t;
    }
    return acc;
  }

  @Override
  public double dotD(double[] a, double[] b) {
    final int n = a.length;
    final int L = D.length();
    int i = 0;
    double acc = 0.0;
    if (n >= L) {
      DoubleVector acc0 = DoubleVector.zero(D);
      final int upper = n - (n % L);
      for (; i < upper; i += L) {
        acc0 = DoubleVector.fromArray(D, a, i).fma(DoubleVector.fromArray(D, b, i), acc0);
      }
      acc = acc0.reduceLanes(VectorOperators.ADD);
    }
    for (; i < n; i++) acc += a[i] * b[i];
    return acc;
  }

  @Override
  public String name() {
    return "panama-" + S.length() + "f";
  }
}
