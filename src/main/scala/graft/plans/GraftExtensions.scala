package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Session-extension entry point (enable with
  * `spark.sql.extensions=graft.plans.GraftExtensions`): registers the
  * engine's native expressions into the function registry so they are
  * callable from both the Column API (`call_function("graft_dot", …)`)
  * and SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    def register(name: String, cls: Class[_], arity: Int*)(
        build: Seq[Expression] => Expression): Unit =
      extensions.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => {
          GraftExtensions.checkArity(name, exprs, arity)
          build(exprs)
        }))

    // array inputs are upcast here (the expressions themselves require
    // array<double>), so array<float>/array<int> columns work directly
    def asDouble(e: Expression): Expression = e.dataType match {
      case ArrayType(DoubleType, _) => e
      case _ => Cast(e, ArrayType(DoubleType))
    }

    register("graft_dot", classOf[DotProduct], 2) { exprs =>
      DotProduct(asDouble(exprs.head), asDouble(exprs(1)))
    }
    register("graft_kgrams", classOf[KgramHashes], 2) { exprs =>
      KgramHashes(exprs.head, exprs(1))
    }
    register("graft_simhash", classOf[SimhashDet], 1) { exprs =>
      SimhashDet(exprs.head)
    }
    register("graft_sign_key", classOf[SignBucketKey], 3, 4) { exprs =>
      // plane matrix, width and widen pairs are structural parameters,
      // not per-row data — they must fold at analysis time
      // (lit(Array[Double]), lit(Int), lit(Array[Int])). ADVICE r10: an
      // AnalysisException (same error path as the arity check), not a
      // bare require, so a non-foldable argument surfaces as an analysis
      // error rather than an IllegalArgumentException from plan rewrite.
      // ADVICE r11: pair each param with ITS type — a non-foldable
      // planes/widenPairs used to produce an error claiming INT
      val params = Seq("planes" -> "\"ARRAY<DOUBLE>\"", "bits" -> "\"INT\"",
        "widenPairs" -> "\"ARRAY<INT>\"")
      exprs.drop(1).zip(params).foreach { case (e, (name, tpe)) =>
        if (!e.foldable) {
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`graft_sign_key`",
              "paramName" -> s"`$name`",
              "paramType" -> tpe))
        }
      }
      val planes = exprs(1).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
      val bits = exprs(2).eval() match {
        case i: java.lang.Integer => i.intValue()
        // ADVICE r10: a Long literal was silently truncated with toInt —
        // accept only values that survive the Int round-trip
        case l: java.lang.Long if l.longValue() == l.longValue().toInt => l.intValue()
        case other => throw new IllegalArgumentException(
          s"graft_sign_key bits literal must be a 32-bit integer, got: $other")
      }
      val pairs = exprs.lift(3).map(_.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray())
        .getOrElse(Array.empty[Int])
      SignBucketKey(asDouble(exprs.head), planes, bits, pairs)
    }
    register("graft_normalize", classOf[Normalize], 1) { exprs =>
      Normalize(exprs.head)
    }
    register("graft_minhash_sig", classOf[MinhashSig], 3) { exprs =>
      MinhashSig(exprs.head, exprs(1), exprs(2))
    }
    register("graft_kgram_stats", classOf[KgramStats], 2) { exprs =>
      KgramStats(exprs.head, exprs(1))
    }
    register("graft_md5_long", classOf[Md5Long], 1) { exprs =>
      Md5Long(exprs.head)
    }
    register("graft_md5_chunks", classOf[Md5Chunks], 1) { exprs =>
      Md5Chunks(exprs.head)
    }
    register("graft_token_stats", classOf[TokenStats], 2) { exprs =>
      // the dictionary list is a structural parameter, not per-row data
      if (!exprs(1).foldable) {
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> "`graft_token_stats`",
            "paramName" -> "`dicts`",
            "paramType" -> "\"ARRAY<ARRAY<STRING>>\""))
      }
      val dicts = exprs(1).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val seqs = (0 until dicts.numElements()).map { d =>
        val words = dicts.getArray(d)
        (0 until words.numElements())
          .map(w => words.getUTF8String(w).toString).toSeq
      }.toSeq
      TokenStats(exprs.head, seqs)
    }
    register("graft_simhash64", classOf[Simhash64], 1) { exprs =>
      Simhash64(exprs.head)
    }
    register("graft_cents", classOf[Cents], 1) { exprs =>
      Cents(exprs.head)
    }
  }
}

object GraftExtensions {

  /** Spark's own arity error unless `exprs` has one of the `allowed`
    * lengths; the message names the first. */
  private def checkArity(name: String, exprs: Seq[Expression], allowed: Seq[Int]): Unit =
    if (!allowed.contains(exprs.length)) {
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> allowed.head.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
}
