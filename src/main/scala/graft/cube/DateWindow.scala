package graft.cube

import java.time.{LocalDate, ZoneId}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{date_add, lit, to_date}
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** The calendar dates a sync's slice keeps, as a literal predicate.
  * `keep(c, t, shift)` holds on the rows whose date `to_date(c)`, moved
  * `shift` days later, is one the window keeps; `t` is the type of `c`.
  * sales_channel's LY side asks for `shift = 364`: the prior-year rows
  * its TY rows are compared with.
  */
sealed trait DateWindow {
  def keep(c: Column, t: DataType, shift: Int = 0): Column
}

object DateWindow {
  /** No slicer: every row. */
  case object All extends DateWindow {
    def keep(c: Column, t: DataType, shift: Int): Column = lit(true)
  }

  /** The days `from` to `to`, both kept. On a date or timestamp column
    * the predicate is a range on the column itself, which parquet uses
    * to skip row groups; `zone` is the session time zone, in which
    * `to_date` reads a UTC-adjusted timestamp.
    */
  final case class Days(from: LocalDate, to: LocalDate, zone: ZoneId) extends DateWindow {
    def keep(c: Column, t: DataType, shift: Int): Column = {
      val (lo, end) = (from.minusDays(shift), to.minusDays(shift).plusDays(1))
      t match {
        case DateType => c >= lit(lo) && c < lit(end)
        case TimestampType =>
          c >= lit(lo.atStartOfDay(zone).toInstant) && c < lit(end.atStartOfDay(zone).toInstant)
        case TimestampNTZType => c >= lit(lo.atStartOfDay) && c < lit(end.atStartOfDay)
        case _ => to_date(c) >= lit(lo) && to_date(c) < lit(end)
      }
    }
  }

  /** The dates a calendar predicate over a date column keeps, e.g. one
    * fiscal year.
    */
  final case class Calendar(p: Column => Column) extends DateWindow {
    def keep(c: Column, t: DataType, shift: Int): Column =
      p(if (shift == 0) to_date(c) else date_add(to_date(c), shift))
  }
}
