package graft

import org.scalatest.funsuite.AnyFunSuite

/** The combined `scaling_efficiency` line, rendered without Spark. */
class ScalingBenchSpec extends AnyFunSuite {
  import ScalingBench.{Leg, efficiencyLine}

  test("legs without apply print null apply fields, not a ratio of sentinels") {
    val line = efficiencyLine(2, Leg(1000, 2.0, 7.0, None), Leg(1000, 1.0, 8.0, None))
    assert(line.contains(""""classify_eff":0.500"""))
    Seq("apply_sec_n", "apply_sec_4n", "apply_eff", "apply_cpu_sec_n",
      "apply_cpu_sec_4n", "apply_eps_n", "apply_eps_4n").foreach { f =>
      assert(line.contains(s""""$f":null"""), s"$f in $line")
    }
    assert(!line.contains("0.250") && !line.contains("-"), line)
  }

  test("apply is null unless both legs ran it") {
    val line = efficiencyLine(2, Leg(1000, 2.0, 7.0, Some((4.0, 9.0))),
      Leg(1000, 1.0, 8.0, None))
    assert(line.contains(""""apply_eff":null"""), line)
  }

  test("legs with apply print the apply ratio, seconds, CPU and rates") {
    val line = efficiencyLine(2, Leg(1000, 2.0, 7.0, Some((4.0, 9.0))),
      Leg(1000, 1.0, 8.0, Some((2.0, 10.0))))
    Seq(""""n":2,"n4":8""", """"apply_sec_n":4.00""", """"apply_sec_4n":2.00""",
      """"apply_eff":0.500""", """"apply_cpu_sec_n":9.00""", """"apply_cpu_sec_4n":10.00""",
      """"apply_eps_n":250""", """"apply_eps_4n":500""").foreach { f =>
      assert(line.contains(f), s"$f in $line")
    }
  }
}
