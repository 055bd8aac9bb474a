package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDate

class IngestionStateSpec extends AnyFunSuite {

  private def fresh() = new IngestionState(
    graft.core.Fixtures.tempDir("ing").toString + "/state.json")

  private val d1 = LocalDate.parse("2024-06-01")
  private val d2 = LocalDate.parse("2024-06-02")

  test("unknown table reads from the beginning") {
    assert(fresh().offsetFor("employee", d1) === Long.MinValue)
  }

  test("same-day re-run re-reads the whole day (prev watermark)") {
    val st = fresh()
    st.advance("employee", d1, Some(1000L))
    // second run same day: offset must be the PREVIOUS watermark
    assert(st.offsetFor("employee", d1) === Long.MinValue)
    st.advance("employee", d1, Some(2000L))
    assert(st.offsetFor("employee", d1) === Long.MinValue)
    assert(st.load()("employee").latest === 2000L)
  }

  test("next-day run reads from latest") {
    val st = fresh()
    st.advance("employee", d1, Some(1000L))
    assert(st.offsetFor("employee", d2) === 1000L)
    st.advance("employee", d2, Some(3000L))
    // same-day re-run on day 2 -> prev = day-1 watermark
    assert(st.offsetFor("employee", d2) === 1000L)
  }

  test("empty batch does not advance state") {
    val st = fresh()
    st.advance("employee", d1, Some(1000L))
    st.advance("employee", d2, None)
    assert(st.load()("employee").latest === 1000L)
  }

  test("state round-trips through the file") {
    val st = fresh()
    st.advance("a", d1, Some(5L))
    st.advance("b", d1, Some(7L))
    assert(st.load() === Map(
      "a" -> TableWatermark(Long.MinValue, 5L, "2024-06-01"),
      "b" -> TableWatermark(Long.MinValue, 7L, "2024-06-01")))
  }
}
