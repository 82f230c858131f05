package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Every native expression gives the same rows on the interpreted path
  * (`NO_CODEGEN`) as in generated code (`CODEGEN_ONLY`), over rows that
  * are NULL, empty, non-ASCII or hold NaN and signed zeros. */
class CodegenParitySpec extends SparkSpec {
  import NativeExprs._

  for (n <- all) test(s"${n.name}: interpreted and generated evaluation agree") {
    def run(mode: String): Seq[String] = withFactoryMode(mode) {
      evaluate(frame(spark), n, n.inputs.map(t => col(columnOf(t))))
    }
    val interpreted = run("NO_CODEGEN")
    assert(interpreted.size == (if (n.aggregate) 2 else 5))
    assert(run("CODEGEN_ONLY") == interpreted)
  }
}
