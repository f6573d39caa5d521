package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's stdout JSON line on a fixed 141-query input: the
  * line's consumer parses exactly this shape, so it is pinned byte for
  * byte and held inside the 1920-char tail budget. */
class BenchLineSpec extends AnyFunSuite {

  private val names = (0 until 141).map(i => f"q_gate_${i}%03d_" + "x" * (i % 9))
  private val secs = (0 until 141).map { i =>
    if (i == 17) -1.0 else ((i.toLong * 7919L) % 4999L) / 1000.0 + 0.0123 * (i % 5)
  }
  private val cqMs = Array.tabulate(141)(i => 20L + (i * 37L) % 23L + (if (i % 40 == 3) 60L else 0L))
  private val cMid = Seq(651L, 660L, 702L, 648L, 655L, 1290L, 640L, 645L)

  private val golden =
    """{"metric":"total","value":343.87,"unit":"sec","L0":1,"L":3,"C0":644,"C":649,"CQ50":31,"CQ90":41,"C_mid":[651,660,702,648,655,1290,640,645],"cq_hot_n":4,"cq_hot":[3,43,83,123],"queries":{"q_gate_101_xx":4.99,"q_gate_089_xxxxxxxx":4.98,"q_gate_077_xxxxx":4.91,"q_gate_065_xx":4.84,"q_gate_053_xxxxxxxx":4.83,"q_gate_041_xxxxx":4.76,"q_gate_029_xx":4.75,"q_gate_130_xxxx":4.68,"q_gate_118_x":4.66,"q_gate_005_xxxxx":4.6},"q_note":"10 slowest; q_ms has all","q_ms_order":"alphabetical SparkEntry.queries keys","routed_on_ms":235,"routed_off_ms":1500,"q_ms":[0,2932,866,3798,1731,4602,2535,469,3401,1334,4205,2138,72,3004,937,3808,1741,-1,2607,540,3411,1344,4277,2210,143,3014,947,3880,1813,4745,2617,550,3483,1416,4348,2220,153,3086,1019,3951,1823,4755,2689,622,3554,1426,4358,2292,225,3157,1029,3961,1895,4827,2760,632,3564,1498,4430,2363,235,3167,1101,4033,1966,4837,2770,704,3636,1569,4440,2373,307,3239,1172,4043,1976,4909,2842,775,3646,1579,4512,2445,378,3249,1182,4115,2048,4980,2852,785,3718,1651,4583,2455,388,3321,1254,4186,2058,4990,2924,857,3789,1661,4593,2527,460,3392,1264,4196,2130,63,2995,867,3799,1733,4665,2598,470,3402,1336,4268,2201,73,3005,939,3871,1804,4675,2608,542,3474,1407,4278,2211,145,3077,1010,3881],"sf":"sf0.1"}"""

  test("141-query bench line is byte-identical to the recorded line and fits 1920 chars") {
    val line = Bench.resultLine(
      names.zip(secs),
      Seq("q_rollup_routed_on" -> 0.2345, "q_rollup_routed_off" -> 1.5),
      load0 = 0.73, load = 2.51, cal0 = 644L, cal1 = 649L,
      Bench.stretchField(cqMs, cMid), "sf0.1")
    assert(line == golden)
    assert(line.length <= 1920)
  }
}
