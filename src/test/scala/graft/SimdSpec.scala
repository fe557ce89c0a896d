package graft

import graft.simd.{Kernels, PanamaKernels, ScalarKernels}
import org.scalatest.funsuite.AnyFunSuite

/** The SIMD kernel seam (graft.simd): provider selection, the
  * VectorKernels numeric contract (bit-symmetry, normSq == dot(a,a)), and
  * closeness to the scalar double-accumulation reference. */
class SimdSpec extends AnyFunSuite {

  private val scalar = new ScalarKernels
  private def vecs(n: Int, dim: Int, seed: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }

  test("forked test JVMs get the Panama provider (build.sbt adds the module)") {
    // If this fails the whole engine silently runs scalar — fail loudly.
    assert(Kernels.INSTANCE.name.startsWith("panama-"),
      s"expected Panama kernels, got ${Kernels.INSTANCE.name} — is " +
        "--add-modules=jdk.incubator.vector missing from javaOptions?")
  }

  test("panama dot/l2sq/normSq match scalar within float-accumulation tolerance") {
    val p = new PanamaKernels
    // dims chosen to cover: sub-lane (3), one partial vector (17), exact
    // lane multiples (64), odd tails (129), and large (1000)
    for (dim <- Seq(1, 3, 16, 17, 64, 129, 1000); Array(a, b) <- vecs(2, dim, dim).grouped(2)) {
      val tol = 1e-4 * math.max(1.0, dim / 64.0)
      assert(math.abs(p.dot(a, b) - scalar.dot(a, b)) < tol, s"dot dim=$dim")
      assert(math.abs(p.l2sq(a, b) - scalar.l2sq(a, b)) < tol, s"l2sq dim=$dim")
      assert(math.abs(p.normSq(a) - scalar.normSq(a)) < tol, s"normSq dim=$dim")
    }
  }

  test("double-lane kernels (training loops) match scalar within tolerance") {
    val p = new PanamaKernels
    val rnd = new scala.util.Random(3)
    for (dim <- Seq(1, 7, 8, 64, 129)) {
      val a = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      val b = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      assert(math.abs(p.l2sqD(a, b) - scalar.l2sqD(a, b)) < 1e-12 * dim, s"l2sqD dim=$dim")
      assert(math.abs(p.dotD(a, b) - scalar.dotD(a, b)) < 1e-12 * dim, s"dotD dim=$dim")
      assert(p.l2sqD(a, b) === p.l2sqD(b, a), s"l2sqD symmetry dim=$dim")
    }
  }

  test("contract: bit-symmetric dot/l2sq and normSq bit-equal to dot(a,a)") {
    for (k <- Seq(new PanamaKernels, scalar: graft.simd.VectorKernels); dim <- Seq(7, 64, 100)) {
      val Array(a, b) = vecs(2, dim, 7 * dim)
      assert(k.dot(a, b) === k.dot(b, a), s"${k.name} dot symmetry dim=$dim")
      assert(k.l2sq(a, b) === k.l2sq(b, a), s"${k.name} l2sq symmetry dim=$dim")
      assert(k.normSq(a) === k.dot(a, a), s"${k.name} normSq==dot(a,a) dim=$dim")
    }
  }

  test("Vamana scorer paths stay mutually bit-identical on the active kernels") {
    // sim (unfused) vs the precomputed-norm scorers (simNodes via build,
    // queryScorer via search): same kernel calls => same bits. Search on a
    // tiny graph must return scores equal to sim recomputation.
    import graft.index.Vamana
    val vs = vecs(50, 64, 11)
    val g = new Vamana(vs, "COSINE", maxDegree = 8, beamWidth = 32).build()
    val q = vecs(1, 64, 12).head
    val got = g.search(q, 5, 32)
    got.foreach { case (id, s) =>
      assert(s === g.sim(q, vs(id)), s"node $id: search score != sim")
    }
  }
}
