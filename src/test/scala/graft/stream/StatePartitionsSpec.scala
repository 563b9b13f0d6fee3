package graft.stream

import graft.SparkSuite

class StatePartitionsSpec extends SparkSuite {

  test("forVolume tracks trigger volume and clamps to [min, max]") {
    // one partition per ~64k rows
    assert(StatePartitions.forVolume(1) == 1)
    assert(StatePartitions.forVolume(65536) == 1)
    assert(StatePartitions.forVolume(65537) == 2)
    assert(StatePartitions.forVolume(655360) == 10)
    // clamped at both ends
    assert(StatePartitions.forVolume(0, minParts = 2) == 2)
    assert(StatePartitions.forVolume(100L * 1000 * 1000) == 32)
    assert(StatePartitions.forVolume(100L * 1000 * 1000, maxParts = 8) == 8)
    intercept[IllegalArgumentException] {
      StatePartitions.forVolume(1, minParts = 4, maxParts = 2)
    }
  }
}
