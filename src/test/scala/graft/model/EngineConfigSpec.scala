package graft.model

import org.scalatest.funsuite.AnyFunSuite

class EngineConfigSpec extends AnyFunSuite {

  test("forThreshold(0.7) reproduces the default 16x8 banding") {
    val c = EngineConfig.forThreshold(0.7)
    assert(c.bands == 16 && c.rowsPerBand == 8)
    assert(c.bands * c.rowsPerBand == c.numPerms)
    assert(c.jaccardThreshold == 0.7)
  }

  test("forThreshold picks the closest S-curve midpoint (ties to the recall side)") {
    for (t <- Seq(0.3, 0.5, 0.6, 0.8, 0.9, 0.95)) {
      val c = EngineConfig.forThreshold(t)
      val sStar = math.pow(1.0 / c.bands, 1.0 / c.rowsPerBand)
      assert(c.bands * c.rowsPerBand == 128)
      // no divisor pair sits strictly closer to the target
      val closer = (1 to 128).filter(128 % _ == 0)
        .map(b => math.pow(1.0 / b, 1.0 / (128 / b)))
        .exists(s => math.abs(s - t) < math.abs(sStar - t) - 1e-12)
      assert(!closer, s"t=$t -> ${c.bands}x${c.rowsPerBand} s*=$sStar not closest")
    }
  }

  test("forThreshold rejects out-of-range targets; banding invariant holds") {
    intercept[IllegalArgumentException](EngineConfig.forThreshold(0.0))
    intercept[IllegalArgumentException](EngineConfig.forThreshold(1.0))
    // the copy respects the EngineConfig require(bands*rows == numPerms)
    val c = EngineConfig.forThreshold(0.85, EngineConfig.default.copy(numPerms = 64,
      bands = 8, rowsPerBand = 8))
    assert(c.bands * c.rowsPerBand == 64)
  }
}
