package graft

import java.time.LocalDate

import graft.calendar.{ExchangeRegistry, Holidays, TradingCalendar}

class CalendarSpec extends SparkSpec {

  test("Easter algorithm matches known dates") {
    assert(Holidays.easterSunday(2024) === LocalDate.of(2024, 3, 31))
    assert(Holidays.easterSunday(2025) === LocalDate.of(2025, 4, 20))
    assert(Holidays.easterSunday(2026) === LocalDate.of(2026, 4, 5))
  }

  test("NYSE 2024 regular holidays (E2E_VALIDATION scenarios)") {
    val h = Holidays.nyse(2024).map(_._1).toSet
    assert(h.contains(LocalDate.of(2024, 1, 1)))   // New Year
    assert(h.contains(LocalDate.of(2024, 3, 29)))  // Good Friday
    assert(h.contains(LocalDate.of(2024, 6, 19)))  // Juneteenth
    assert(h.contains(LocalDate.of(2024, 7, 4)))
    assert(h.contains(LocalDate.of(2024, 11, 28))) // Thanksgiving
    assert(h.contains(LocalDate.of(2024, 12, 25))) // Christmas
    assert(h.size === 10)
  }

  test("LSE collision shifting: Christmas 2022 (Dec 25 Sunday)") {
    val h = Holidays.lse(2022).map(_._1).toSet
    assert(h.contains(LocalDate.of(2022, 12, 26))) // Boxing Day (Mon)
    assert(h.contains(LocalDate.of(2022, 12, 27))) // Christmas substitute (Tue)
    assert(!h.contains(LocalDate.of(2022, 12, 25)))
  }

  test("UK bank holiday 2025-08-25 (E2E_VALIDATION 66-99)") {
    assert(Holidays.lse(2025).map(_._1).contains(LocalDate.of(2025, 8, 25)))
  }

  test("session intervals are DST-correct for NYSE") {
    val ivs = TradingCalendar.sessionIntervals(
      Seq(ExchangeRegistry("nyse")),
      LocalDate.of(2024, 1, 8), LocalDate.of(2024, 1, 8)) ++
      TradingCalendar.sessionIntervals(
        Seq(ExchangeRegistry("nyse")),
        LocalDate.of(2024, 7, 8), LocalDate.of(2024, 7, 8))
    // EST: 9:30 local = 14:30 UTC; EDT: 9:30 local = 13:30 UTC
    assert(ivs.head.openTs.toString === "2024-01-08 14:30:00.0")
    assert(ivs(1).openTs.toString === "2024-07-08 13:30:00.0")
  }

  test("Tokyo lunch break splits the session (11:30-12:30 JST)") {
    val ivs = TradingCalendar.sessionIntervals(
      Seq(ExchangeRegistry("xtks")),
      LocalDate.of(2024, 1, 10), LocalDate.of(2024, 1, 10))
    assert(ivs.size === 2)
    // 09:00 JST = 00:00 UTC, 11:30 JST = 02:30 UTC,
    // 12:30 JST = 03:30 UTC, 15:00 JST = 06:00 UTC
    assert(ivs(0).openTs.toString === "2024-01-10 00:00:00.0")
    assert(ivs(0).closeTs.toString === "2024-01-10 02:30:00.0")
    assert(ivs(1).openTs.toString === "2024-01-10 03:30:00.0")
    assert(ivs(1).closeTs.toString === "2024-01-10 06:00:00.0")
  }

  test("Tokyo close moves 15:00 -> 15:30 JST effective 2024-11-05 (E2E_VALIDATION 205-232)") {
    // Mon 2024-11-04: old hours still in force — close 15:00 JST = 06:00 UTC
    val before = TradingCalendar.sessionIntervals(
      Seq(ExchangeRegistry("xtks")),
      LocalDate.of(2024, 11, 4), LocalDate.of(2024, 11, 4))
    assert(before.size === 2)
    assert(before(1).closeTs.toString === "2024-11-04 06:00:00.0")
    // Tue 2024-11-05: override effective — close 15:30 JST = 06:30 UTC;
    // open and lunch split unchanged
    val after = TradingCalendar.sessionIntervals(
      Seq(ExchangeRegistry("xtks")),
      LocalDate.of(2024, 11, 5), LocalDate.of(2024, 11, 5))
    assert(after.size === 2)
    assert(after(0).openTs.toString === "2024-11-05 00:00:00.0")
    assert(after(0).closeTs.toString === "2024-11-05 02:30:00.0")
    assert(after(1).openTs.toString === "2024-11-05 03:30:00.0")
    assert(after(1).closeTs.toString === "2024-11-05 06:30:00.0")
    // and it persists (open-ended): a later day also closes 06:30 UTC
    val later = TradingCalendar.sessionIntervals(
      Seq(ExchangeRegistry("xtks")),
      LocalDate.of(2025, 3, 10), LocalDate.of(2025, 3, 10))
    assert(later(1).closeTs.toString === "2025-03-10 06:30:00.0")
  }

  test("weekends and holidays have no sessions") {
    val sat = TradingCalendar.sessionIntervals(Seq(ExchangeRegistry("nyse")),
      LocalDate.of(2024, 1, 6), LocalDate.of(2024, 1, 7))
    assert(sat.isEmpty)
    val thanksgiving = TradingCalendar.sessionIntervals(Seq(ExchangeRegistry("nyse")),
      LocalDate.of(2024, 11, 28), LocalDate.of(2024, 11, 28))
    assert(thanksgiving.isEmpty)
  }

  test("exchange_sessions lookup table: one row per registry exchange, 10 typed columns") {
    import org.apache.spark.sql.types._
    val df = TradingCalendar.exchangeSessionsDf(spark)
    assert(df.schema.map(f => f.name -> f.dataType) === Seq(
      "exchange" -> StringType, "mic" -> StringType, "name" -> StringType,
      "currency" -> StringType, "timezone" -> StringType,
      "country" -> StringType, "open_hour" -> IntegerType,
      "open_minute" -> IntegerType, "close_hour" -> IntegerType,
      "close_minute" -> IntegerType))
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === ExchangeRegistry.all.size)
    ExchangeRegistry.all.foreach { e =>
      val r = rows(e.key)
      assert(r.toSeq === Seq(e.key, e.mic, e.name, e.currency, e.timezone,
        e.country, e.openHour, e.openMinute, e.closeHour, e.closeMinute))
    }
    // spot-check against the reference registry (exchanges.py)
    assert(rows("lse").getString(1) === "XLON")
    assert(rows("xtks").getInt(8) === 15)
  }
}
