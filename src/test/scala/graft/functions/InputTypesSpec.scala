package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The input types each native expression accepts, at analysis: the
  * declared type resolves and evaluates; a castable near miss (there is
  * no implicit cast), a non-default string collation and an empty
  * `array()` (element type void) are rejected. An untyped NULL literal
  * resolves as a NULL of the declared type: the analyzer's coercion
  * for every `ExpectsInputTypes` expression, Spark's own included. */
class InputTypesSpec extends SparkSpec {
  import NativeExprs._

  private lazy val df = frame(spark)

  private def good(t: DataType): Column = col(columnOf(t))

  /** Inputs of a type close to `t` that Spark could cast, and must not. */
  private def wrong(t: DataType): Seq[Column] = t match {
    case StringType => Seq(col("b"), col("toks"))
    case BinaryType => Seq(col("s"))
    case ArrayType(StringType, _) =>
      Seq(col("s"), transform(col("toks"), _.cast("binary")), array())
    case ArrayType(FloatType, _) => Seq(col("vd"), transform(col("vf"), _.cast("int")))
    case ArrayType(DoubleType, _) => Seq(col("vf"))
    case DoubleType => Seq(col("d").cast("float"), col("l"))
    case LongType => Seq(col("l").cast("int"), col("d"))
  }

  /** Strings whose collation is not the default UTF8_BINARY. */
  private def collated(t: DataType): Seq[Column] = t match {
    case StringType => Seq(collate(col("s"), "UNICODE"), collate(col("s"), "UTF8_LCASE"))
    case ArrayType(StringType, _) => Seq(transform(col("toks"), collate(_, "UNICODE")))
    case _ => Nil
  }

  for (n <- all) {
    test(s"${n.name}: accepts ${n.inputs.map(_.simpleString).mkString(", ")}; " +
        "near misses and collations fail analysis") {
      val args = n.inputs.map(good)
      assert(evaluate(df, n, args).nonEmpty)
      for ((t, i) <- n.inputs.zipWithIndex; bad <- wrong(t) ++ collated(t)) {
        val e = intercept[AnalysisException](evaluate(df, n, args.updated(i, bad)))
        assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"input $i = $bad: ${e.getMessage}")
      }
    }

    test(s"${n.name}: an untyped NULL literal is a NULL of the declared type") {
      val args = n.inputs.map(good)
      for ((t, i) <- n.inputs.zipWithIndex)
        assert(evaluate(df, n, args.updated(i, lit(null))) ==
          evaluate(df, n, args.updated(i, lit(null).cast(t))), s"input $i")
    }
  }
}
