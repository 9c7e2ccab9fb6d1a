package graft.core

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** One projection over a frame: what the batch stages build instead of a
  * `withColumn` fold. Every `withColumn` makes a new Dataset, so the whole
  * plan is re-analyzed and one more Project is stacked for the optimizer to
  * collapse again; a stage grown column by column pays that once per
  * column, a layer pays it once.
  *
  * `cols` are the layer's outputs, each computed from `df`'s columns only
  * (an output never reads another output of the same layer — that is what
  * makes them one dependency layer). As with `withColumn`, an output named
  * like an existing column replaces it in place, under the session's
  * case-sensitivity, and new names append in the given order; `drop` names
  * leave the frame. */
object Layer {

  def apply(df: DataFrame, cols: Seq[(String, Column)],
            drop: Seq[String] = Nil): DataFrame = {
    val caseSensitive = df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    def key(name: String): String =
      if (caseSensitive) name else name.toLowerCase(Locale.ROOT)
    val outputs = cols.map { case (n, c) => key(n) -> c.as(n) }.toMap
    require(outputs.size == cols.size, s"duplicate layer output in ${cols.map(_._1)}")
    val dropped = drop.map(key).toSet
    val existing = df.columns.map(key).toSet
    val kept = df.columns.toSeq.filterNot(c => dropped(key(c)))
      .map(c => outputs.getOrElse(key(c), col(quoted(c))))
    val added = cols.collect { case (n, c) if !existing(key(n)) => c.as(n) }
    df.select(kept ++ added: _*)
  }

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
}
