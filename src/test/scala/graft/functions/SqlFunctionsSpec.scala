package graft.functions

import graft.SparkSpec
import graft.core.Sessions
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL-text parity for every registered kernel: each `spark.sql` call
  * must return exactly what the DataFrame-side entry point returns
  * (same Expression, so value identity is the contract).
  */
class SqlFunctionsSpec extends SparkSpec {

  private def withExtSession[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Sessions.builder(4).withExtensions(new GraftExtensions).getOrCreate()
    try f(s2) finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("fused kernels are callable from SQL text and match the DataFrame path") {
    withExtSession { s2 =>
      import s2.implicits._
      val docs = Seq(
        "the quick brown fox jumps over the lazy dog and the cat",
        "der schnelle braune fuchs springt und der hund schläft",
        "a b", "").toDF("body")
      docs.createOrReplaceTempView("docs_sql")

      val viaSql = s2.sql(
        """SELECT shingle_hash64(body, 3) AS sh,
          |       shingle_strings(body, 3) AS ss,
          |       token_hash32(body) AS th,
          |       simhash32(body) AS sim,
          |       coalesce(lang_id(body, 0.02), 'unknown') AS lang
          |FROM docs_sql""".stripMargin).collect()
      val viaDf = docs.select(
        ShingleHash64(col("body"), 3).as("sh"),
        ShingleStrings(col("body"), 3).as("ss"),
        TokenHash32(col("body")).as("th"),
        SimHash32Expr(col("body")).as("sim"),
        graft.llm.TextAnalysis.langId(col("body")).as("lang")).collect()
      assert(viaSql.toSeq == viaDf.toSeq)
      assert(viaSql.map(_.getAs[String]("lang")).toSet == Set("en", "de", "unknown"))

      // vector kernel: SQL vs DataFrame dot product, double-accumulated
      val vecs = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)))
        .toDF("a", "b")
      vecs.createOrReplaceTempView("vecs_sql")
      val d1 = s2.sql("SELECT float_vec_dot(a, b) AS d FROM vecs_sql")
        .head().getDouble(0)
      val d2 = vecs.select(VectorFunctions.fdot(col("a"), col("b")).as("d"))
        .head().getDouble(0)
      assert(d1 == d2 && d1 == (1.0 * 0.5 - 2.0 + 6.0))

      // tuning args must be literals: a column reference is rejected
      val err = intercept[Exception] {
        s2.sql("SELECT lang_id(body, sim) FROM (SELECT body, 0.5 AS sim FROM docs_sql)").collect()
      }
      assert(err.getMessage.contains("literal") || err.getCause != null)
    }
  }
}
