package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/time helpers — capability parity with the reference's date
  * utilities (rt-flink CommonTool.scala:67-150, DateTimeUtil.scala:20-35)
  * re-expressed as native Column expressions. All formatting assumes the
  * session timezone (we standardize on UTC; the reference hardcoded
  * +08:00 — documented divergence, SURVEY §7.4.7).
  */
object DateFunctions {

  /** "yyyy-MM-dd HH:mm:ss" formatting (DateTimeUtil.toYMDhms analog). */
  def toYmdHms(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** 10-minute bucket label "HH:m0:00-HH:m9:59"
    * (CommonTool.getTimeInterval analog).
    */
  def tenMinuteInterval(ts: Column): Column = {
    val head = date_format(ts, "HH:mm").substr(lit(1), lit(4)) // "HH:m"
    concat(head, lit("0:00-"), head, lit("9:59"))
  }

  /** Last day of the timestamp's month (CommonTool.getMonthLastday). */
  def monthLastDay(ts: Column): Column = last_day(ts)

  /** English weekday name (CommonTool.getDayWeek analog; the reference
    * emits Chinese names — the capability is day-of-week labeling).
    */
  def dayOfWeekName(ts: Column): Column = date_format(ts, "EEEE")

  /** Age in whole years from a birthday column — the reference's derived
    * dim attribute (rt-flink OrderWideAp.scala:151-158, which divides the
    * millisecond delta by a 365-day year). `asOf` defaults to the wall
    * clock like the reference; queries that need a deterministic oracle
    * pass a fixed as-of date.
    */
  def ageFromBirthday(birthday: Column, asOf: Column = current_date()): Column =
    floor(datediff(asOf, birthday) / 365).cast("long")

  /** Cross-month bucket normalization (BusinessRulesTool.getCancelDate
    * analog): days 1-15 → this month's 15th, days ≥16 → next month's
    * 15th.
    */
  def midMonthBucket(d: Column): Column =
    when(dayofmonth(d) <= 15, date_format(d, "yyyy-MM-15"))
      .otherwise(date_format(add_months(d, 1), "yyyy-MM-15"))
}
