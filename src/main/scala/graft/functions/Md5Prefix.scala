package graft.functions

/** The engine-wide md5-prefix key: the first `hexChars` hex digits of
  * `md5(arg)` read as a long. Sampling, splits, sketches and the dedup
  * shingle spine all key on it, because it is a pure function of a
  * stable id — bit-identical across partitionings, retries and the
  * DuckDB oracle (which states the same key as
  * `CAST(('0x' || substr(md5(…), 1, N)) AS BIGINT)`), with no `rand()`.
  *
  * Returned as SQL text, not a `Column` (the [[DetRand.uSql]] idiom),
  * because many call sites sit inside `transform(…, i -> …)` lambdas.
  * `ShingleHashSpec` pins every width in use against a JDK
  * MessageDigest reference.
  */
object Md5Prefix {

  /** 15 hex digits = 60 bits is the widest prefix that stays a
    * non-negative long in both engines.
    */
  def sql(arg: String, hexChars: Int = 15): String = {
    require(1 <= hexChars && hexChars <= 15, s"hexChars must be in 1..15, got $hexChars")
    s"cast(conv(substring(md5($arg), 1, $hexChars), 16, 10) as bigint)"
  }
}
