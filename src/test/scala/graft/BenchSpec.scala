package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins [[Bench]]'s timing rules and its one-line artifact. */
class BenchSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  test("a cold first rep never reaches the entry's best time") {
    // A one-time build paid in rep 1 (a persisted store, a session pin)
    // must not reach `value`: min-of-reps keeps the warm rep.
    var calls = 0
    val t = Bench.timeEntry("q_cold", () => {
      calls += 1
      Thread.sleep(if (calls == 1) 250 else 1)
    }, Bench.reps)
    assert(calls == 2 && t.times.size == 2 && !t.failed)
    assert(t.times.head >= 0.2, s"first rep ${t.times.head}")
    assert(t.best.exists(_ < 0.1), s"best ${t.best}")
  }

  test("artifact line stays under the 1900-char driver window at any surface size") {
    val many = (1 to 400).map(i => f"q_entry_number_$i%03d" -> (i / 100.0))
    val line = Bench.artifactLine(many, failed = Nil, cpus = 4, sfTag = "sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val doc = json.readTree(line)
    // The queries map keeps a substantive slowest-first head.
    val kept = """"q_entry_number_(\d+)":""".r.findAllMatchIn(line)
      .map(_.group(1).toInt).toSeq
    assert(kept.size > 20 && kept.size == doc.get("queries").size)
    assert(kept == (400 to 1 by -1).take(kept.size))
    // Truncation is explicit: the dropped tail is counted and digested.
    assert(doc.get("dropped").asInt == 400 - kept.size)
    val droppedSum = many.map(_._2).sortBy(identity).take(400 - kept.size).sum
    assert(math.abs(doc.get("dropped_sum").asDouble - droppedSum) < 0.01)
    // Total covers EVERY entry, kept or dropped.
    assert(math.abs(doc.get("value").asDouble - many.map(_._2).sum) < 0.01)
    assert(doc.get("metric").asText == "total" && doc.get("unit").asText == "sec")
    assert(doc.get("cpus").asInt == 4 && doc.get("sf").asText == "sf0.1")
    assert(doc.get("failed_n").asInt == 0 && doc.get("failed").size == 0)
  }

  test("a throwing rep is never a timing; the artifact names failed entries") {
    // A planted entry that always throws: no rep is timed, so it has no
    // time at all.
    val boom = Bench.timeEntry("q_boom",
      () => throw new IllegalStateException("planted"), 2)
    assert(boom.best.isEmpty && boom.failed && boom.times.isEmpty)
    // A flaky entry: its thrown rep is dropped, the good rep times it.
    var calls = 0
    val flaky = Bench.timeEntry("q_flaky", () => {
      calls += 1
      if (calls == 1) throw new IllegalStateException("planted")
      Thread.sleep(30)
    }, 2)
    assert(flaky.failed && flaky.best.exists(_ >= 0.03) && flaky.times.size == 1)
    val ok = Bench.timeEntry("q_ok", () => Thread.sleep(5), 2)
    assert(!ok.failed && ok.best.isDefined)

    // Only timed entries enter `value`; failed ones are named, escaped.
    val hostile = "q_\"boom\\\t"
    val line = Bench.artifactLine(Seq("q_ok" -> 0.5, "q_flaky" -> 0.25),
      failed = Seq("q_flaky", hostile), cpus = 4, sfTag = "sf0.1")
    assert(line.length <= 1900)
    val doc = json.readTree(line)
    assert(doc.get("value").asDouble == 0.75)
    assert(doc.get("failed_n").asInt == 2)
    assert(doc.get("failed").elements.asScala.map(_.asText).toSeq ==
      Seq(hostile, "q_flaky").sorted)
    assert(doc.get("queries").fieldNames.asScala.toSet == Set("q_ok", "q_flaky"),
      "a never-timed entry has no time")
  }
}
