package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile's per-group wall: overlapping jobs count once. Pure
  * JVM-side, no SparkSession.
  */
class ProfileSpec extends AnyFunSuite {

  private def wall(jobs: (Double, Double)*): Double = Profile.unionWall(jobs)

  test("unionWall: no jobs cover no time") {
    assert(wall() == 0.0)
  }

  test("unionWall: disjoint jobs add up, in any order") {
    assert(wall((0.0, 1.0), (2.0, 0.5)) == 1.5)
    assert(wall((2.0, 0.5), (0.0, 1.0)) == 1.5)
    assert(wall((0.0, 1.0), (1.0, 1.0)) == 2.0)   // touching, not overlapping
  }

  test("unionWall: overlapping jobs count their union once") {
    assert(wall((0.0, 2.0), (1.0, 2.0)) == 3.0)
    assert(wall((1.0, 2.0), (0.0, 2.0), (2.5, 1.5)) == 4.0)
  }

  test("unionWall: a job nested in another adds nothing") {
    assert(wall((0.0, 4.0), (1.0, 1.0)) == 4.0)
    assert(wall((0.0, 4.0), (1.0, 1.0), (5.0, 1.0), (5.25, 0.5)) == 5.0)
  }

  test("unionWall: zero-length jobs cover no time") {
    assert(wall((3.0, 0.0)) == 0.0)
    assert(wall((0.0, 1.0), (0.5, 0.0), (3.0, 0.0)) == 1.0)
  }
}
