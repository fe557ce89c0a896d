package graft.simd;

/**
 * Portable fallback: plain loops accumulating in double, element order —
 * bit-identical to the engine's pre-SIMD kernels, so running without
 * {@code jdk.incubator.vector} reproduces historical results exactly.
 */
public final class ScalarKernels implements VectorKernels {

  @Override
  public double dot(float[] a, float[] b) {
    double d = 0.0;
    for (int i = 0; i < a.length; i++) d += (double) a[i] * (double) b[i];
    return d;
  }

  @Override
  public double l2sq(float[] a, float[] b) {
    double d = 0.0;
    for (int i = 0; i < a.length; i++) {
      double t = (double) a[i] - (double) b[i];
      d += t * t;
    }
    return d;
  }

  @Override
  public double normSq(float[] a) {
    return dot(a, a);
  }

  @Override
  public double l2sqD(double[] a, double[] b) {
    double d = 0.0;
    for (int i = 0; i < a.length; i++) {
      double t = a[i] - b[i];
      d += t * t;
    }
    return d;
  }

  @Override
  public double dotD(double[] a, double[] b) {
    double d = 0.0;
    for (int i = 0; i < a.length; i++) d += a[i] * b[i];
    return d;
  }

  @Override
  public String name() {
    return "scalar";
  }
}
