package graft

import org.apache.spark.sql.RuntimeConfig

/** Typed reads of the engine's `spark.graft.*` keys, one per value type:
  * (key, default, range). A set value that does not parse as its type,
  * or falls outside its range, fails with an `IllegalArgumentException`
  * naming the key and the value — never a bare `NumberFormatException`,
  * and never a boolean that silently reads as off because it was spelled
  * `yes`. An unset key reads as its default. The keys stay string
  * literals at each call site, where `ConfKeysSpec` finds them.
  */
object GraftConf {
  def long(conf: RuntimeConfig, key: String, default: Long,
           min: Long = Long.MinValue, max: Long = Long.MaxValue): Long =
    conf.getOption(key).fold(default)(parseLong(key, _, min, max))

  def int(conf: RuntimeConfig, key: String, default: Int,
          min: Int = Int.MinValue, max: Int = Int.MaxValue): Int =
    conf.getOption(key).fold(default)(parseLong(key, _, min, max).toInt)

  def boolean(conf: RuntimeConfig, key: String, default: Boolean): Boolean =
    conf.getOption(key).fold(default)(parseBoolean(key, _))

  /** `raw`, the value of `key`, as a long in [min, max]. */
  def parseLong(key: String, raw: String, min: Long = Long.MinValue,
                max: Long = Long.MaxValue): Long = {
    val v = raw.trim.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"$key must be an integer, got '$raw'"))
    inRange(key, raw, v >= min && v <= max, min, max)
    v
  }

  /** `raw`, the value of `key`, as a double in [min, max]. */
  def parseDouble(key: String, raw: String, min: Double = Double.NegativeInfinity,
                  max: Double = Double.PositiveInfinity): Double = {
    val v = raw.trim.toDoubleOption.filterNot(_.isNaN).getOrElse(
      throw new IllegalArgumentException(s"$key must be a number, got '$raw'"))
    inRange(key, raw, v >= min && v <= max, min, max)
    v
  }

  /** `raw`, the value of `key`, as `true` or `false` (any case). */
  def parseBoolean(key: String, raw: String): Boolean =
    raw.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "true"  => true
      case "false" => false
      case _ => throw new IllegalArgumentException(s"$key must be true or false, got '$raw'")
    }

  private def inRange(key: String, raw: String, ok: Boolean, min: Any, max: Any): Unit =
    if (!ok) throw new IllegalArgumentException(
      s"$key must be in [$min, $max], got '$raw'")
}
