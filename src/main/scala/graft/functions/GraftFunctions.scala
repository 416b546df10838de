package graft.functions

import org.apache.spark.sql.SparkSession

/** One-call registration of the engine's custom SQL functions, so
  * `spark.sql` users get the same surface as the Column API:
  *
  *  - `blake2b(binary) → string` — provenance hashing (native expr)
  *  - `cosine_sim(array, array) → double` — fused-loop cosine
  *  - `nfc_normalize(string) → string` — Unicode canonical composition
  *  - `lang_id(string) → string` — char-trigram language ID
  *  - `shingles(string, n) → array<string>` — token n-grams (native)
  *  - `positioned_shingles(string, n)` — GENERATOR: (pos, ngram) rows
  *  - `hll_registers_agg(hash48, p, cap)` — AGGREGATE: HLL registers
  *
  * The native as-of strategy registers separately, on first use, via
  * [[graft.plans.NativeAsOf.ensureRegistered]].
  */
object GraftFunctions {

  def registerAll(spark: SparkSession): Unit = {
    Blake2b.register(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs(0)), "built-in")
    spark.udf.register("lang_id", (s: String) => LangId.detect(s))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingles",
      exprs => ShinglesExpr(exprs(0), intArg(exprs(1), "shingles.n")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "positioned_shingles",
      exprs => PositionedShingles(exprs(0),
        intArg(exprs(1), "positioned_shingles.n")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_registers_agg",
      exprs => HllRegistersAgg(exprs(0),
          intArg(exprs(1), "hll_registers_agg.p"),
          intArg(exprs(2), "hll_registers_agg.cap"))
        .toAggregateExpression(),
      "built-in")
  }

  /** Literal-int argument of a SQL call (p/cap/n parameters). */
  private def intArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
                     what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
        if v != null => v.toString.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
