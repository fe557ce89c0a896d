package graft.simd;

/**
 * Float-vector kernel seam for the ANN engine's hot loops (graph build,
 * beam search, rerank: O(n * beam * degree) calls per build and one call
 * per visited node per query).
 *
 * Mirrors the reference's provider split (jvector
 * {@code VectorizationProvider.java:20-60}: a scalar default with a Panama
 * implementation substituted when {@code jdk.incubator.vector} is present)
 * re-expressed for this engine: implementations are selected once by
 * {@link Kernels} and must be internally consistent — {@code dot(a, a)}
 * bit-equal to {@code normSq(a)} — so cosine scorers that precompute norms
 * ({@code Vamana.normSqrts}) stay bit-identical to the unfused formula.
 *
 * Oracle-facing codegen kernels ({@code graft.functions.VecOps}) do NOT go
 * through this seam: their left-to-right double accumulation is part of the
 * DuckDB hash-match contract. This seam feeds only gate-facing engine paths
 * whose contracts are recall/threshold bounds, not bit equality.
 */
public interface VectorKernels extends java.io.Serializable {
  /** Dot product. Must be bit-symmetric in its arguments. */
  double dot(float[] a, float[] b);

  /** Squared L2 distance. Must be bit-symmetric in its arguments. */
  double l2sq(float[] a, float[] b);

  /** Squared norm; bit-equal to {@code dot(a, a)}. */
  double normSq(float[] a);

  /** Squared L2 distance over doubles (k-means training loops). */
  double l2sqD(double[] a, double[] b);

  /** Dot product over doubles. */
  double dotD(double[] a, double[] b);

  /** Implementation tag for logs/specs (e.g. "scalar", "panama-16f"). */
  String name();
}
