package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: its name, the engine's build over a fixture
  * directory, and the DuckDB SQL the driver hash-matches it against.
  * Each query module lists its queries as a `Seq[QuerySpec]`, so a
  * query's name is written once, next to both of its halves. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracle: String)
