package graft.llm

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.functions._

/** The word tokenizer and its k-grams, each beside its DuckDB twin: the one
  * definition of a document's tokens and word k-grams for every text query.
  * A token is the text between single spaces, on both engines: a double
  * space yields an empty token, a tab stays inside its token, and an empty
  * text is one empty token. (Character grams are [[graft.functions.TextGrams]].)
  */
object Tokens {

  def tokens(text: Column, lower: Boolean = false): Column =
    split(if (lower) functions.lower(text) else text, " ")

  def tokensSql(text: String, lower: Boolean = false): String =
    s"string_split(${if (lower) s"lower($text)" else text}, ' ')"

  /** The word `k`-grams of a token array in order, each joined by `' '`:
    * empty below `k` tokens, NULL on NULL. The slice length `size − k + 1`,
    * floored at 0, is the short-array guard, so no index is ever out of
    * range under ANSI (`sequence(1, 0)` would be the descending `[1, 0]`).
    *
    * `toks` must be a bound column, not an inline `split(...)`: the lambda
    * references it k + 1 times, and each reference would re-run the split
    * (BENCH_NOTES trap 1: 3 regex splits per shingle cost 5 s of 5.5 s at
    * sf0.1). Referenced more than once, the bound split keeps its own
    * projection.
    */
  def grams(toks: Column, k: Int): Column =
    transform(slice(toks, lit(1), greatest(size(toks) - (k - 1), lit(0))),
      (_, i) => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*))

  /** DuckDB twin of [[grams]] over a bound token list; the range is sized
    * from the list, so no length is capped.
    */
  def gramsSql(toks: String, k: Int): String =
    s"list_transform(range(1, len($toks) - ${k - 2}), i -> array_to_string($toks[i:i + ${k - 1}], ' '))"
}
