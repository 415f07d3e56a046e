package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("relative divides the iterations' median parts by the median probe") {
    val iters = Seq(
      Iter(9.0, 9.0, Seq(Part("a", 1.0, 0.5), Part("b", 3.0, 0.5)), probes = Seq(0.5, 0.5)),
      Iter(9.0, 9.0, Seq(Part("a", 2.0, 1.0), Part("b", 4.0, 1.0)), probes = Seq(2.0, 3.0)),
      Iter(9.0, 9.0, Seq(Part("a", 3.0, 1.5), Part("b", 5.0, 1.5)), probes = Seq(1.0, 0.25)))
    // parts: walls 4, 6, 8 and CPU 1, 2, 3; probes 0.25-3, median 0.75
    assert(Harness.relative(iters) == (6.0 / 0.75, 2.0 / 0.75))
  }

  test("the host probe runs and takes a positive time") {
    val ts = (1 to 3).map(_ => HostProbe.run())
    assert(ts.forall(_ > 0.0))
  }
}
