package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Spark keeps the functions a [[SparkSessionExtensions]] holds private,
  * hence this package.
  */
object InjectedFunctions {

  /** A fresh registry holding only the functions injected into `ext`. */
  def apply(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
