package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  /** Bench's timed soak arms, one per phase label (ss runs two). */
  private val soakArms = Seq("cc_soak_1m", "ss_corpus", "ss_neardup", "lc_soak", "fs_soak")

  /** The arms of the deleted propagation/stars cc soak and their ratios. */
  private val retired = Set("cc_soak_stars_1m", "cc_soak_prop_1m", "cc_soak_stars_x",
    "cc_soak_prop_x", "cc_soak_stars_xg", "cc_soak_prop_xg")

  test("every key of the last parsed bench tail is pinned, calib, a soak arm's entry, or retired") {
    val soakEntries = soakArms.flatMap(a =>
      Seq(a, Bench.soakNormKey(a, "_x"), Bench.soakNormKey(a, "_xg"))).toSet
    val parsed = new ObjectMapper().readTree(new java.io.File("BENCH_r20.json")).get("parsed")
    val keys = parsed.get("queries").fieldNames().asScala.toSeq
    assert(keys.nonEmpty)
    val unaccounted = keys.filterNot(k => Bench.pinnedKeys(k) || k.startsWith("calib") ||
      soakEntries(k) || retired(k))
    assert(unaccounted.isEmpty, "a key that printed before would drop from the compact line")
  }
}
