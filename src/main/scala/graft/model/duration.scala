package graft.model

import java.time.Duration

/** HOCON duration grammar parser (reference: feathr-rs/src/utils.rs:62-94;
  * round-trip utils.rs:96-112). Accepts `ns/us/ms/s/m/h/d` with many
  * aliases; a bare number means milliseconds.
  */
object Durations {
  private val unitNanos: Map[String, Long] = {
    val ns = 1L
    val us = 1000L
    val ms = 1000L * 1000
    val s  = ms * 1000
    val m  = s * 60
    val h  = m * 60
    val d  = h * 24
    Map(
      "ns" -> ns, "nano" -> ns, "nanos" -> ns,
      "nanosecond" -> ns, "nanoseconds" -> ns,
      "us" -> us, "micro" -> us, "micros" -> us,
      "microsecond" -> us, "microseconds" -> us,
      "ms" -> ms, "milli" -> ms, "millis" -> ms,
      "millisecond" -> ms, "milliseconds" -> ms,
      "s" -> s, "second" -> s, "seconds" -> s,
      "m" -> m, "minute" -> m, "minutes" -> m,
      "h" -> h, "hour" -> h, "hours" -> h,
      "d" -> d, "day" -> d, "days" -> d,
      "" -> ms) // bare number = millis
  }

  def parse(text: String): Duration = {
    val t = text.trim
    val (numPart, unitPart) = t.span(c => c.isDigit || c == '.' || c == '-' || c == '+')
    val unit = unitPart.trim.toLowerCase
    val nanosPerUnit = unitNanos.getOrElse(unit,
      throw new IllegalArgumentException(s"bad duration unit '$unitPart' in '$text'"))
    if (numPart.isEmpty)
      throw new IllegalArgumentException(s"bad duration '$text'")
    val value = BigDecimal(numPart)
    Duration.ofNanos((value * BigDecimal(nanosPerUnit)).toLong)
  }

  /** Canonical short form used when serializing configs
    * (mirrors utils.rs:96-112: the largest whole unit).
    */
  def format(d: Duration): String = {
    val n = d.toNanos
    val units = Seq(
      "d" -> 86400000000000L, "h" -> 3600000000000L, "m" -> 60000000000L,
      "s" -> 1000000000L, "ms" -> 1000000L, "us" -> 1000L, "ns" -> 1L)
    if (n == 0) "0ms"
    else units.collectFirst { case (u, per) if n % per == 0 => s"${n / per}$u" }
      .getOrElse(s"${n}ns")
  }

  /** Exact microseconds of a duration; sub-microsecond windows are
    * rejected (timestamps are micros — a `500ns` window cannot be
    * evaluated, and silently truncating it to 0 turned every window
    * empty).
    */
  def toMicros(d: Duration): Long = {
    require(d.toNanos % 1000 == 0,
      s"sub-microsecond duration ${d.toNanos}ns not representable in timestamp precision")
    d.toNanos / 1000
  }
}
