package graft

/** ScaleGen's argument checks fire before it builds a session. */
class ScaleGenSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("ScaleGen with fewer than 3 args fails with its usage line") {
    val e = intercept[IllegalArgumentException](ScaleGen.main(Array("a", "b")))
    assert(e.getMessage.contains("usage"), e.getMessage)
  }
}
