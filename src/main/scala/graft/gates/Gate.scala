package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One oracle-gated query: `run` builds the result over the test tables in
 * a scale-factor directory, and `oracleSql` is the DuckDB SQL its output is
 * hash-compared against.
 *
 * Determinism rules (outputs are hash-compared against DuckDB):
 *  - every oracle query ends in a total ORDER BY;
 *  - double outputs are either exactly-representable (integer-valued sums,
 *    scaled-integer CCI) or rounded AFTER all inputs were already rounded,
 *    so summation-order ULP noise cannot flip a rounding;
 *  - geo queries derive synthetic tiles/envelopes from the relational tables
 *    with arithmetic both engines evaluate bit-identically, so even the
 *    spatial joins are hash-checked (axis-aligned geometry ≡ interval
 *    arithmetic).
 *
 * A gate's name starts with its family's letter, and the gate lives in
 * that family's list: `q` [[RelationalGates]], `d` [[DataOpsGates]],
 * `s` [[StreamingGates]], `m` [[MediaGates]], `g` [[GeoGates]],
 * `v` [[VectorGates]]. Inputs used by more than one family are in
 * [[GateInputs]].
 */
final case class Gate(name: String, oracleSql: String)(
    val run: (SparkSession, String) => DataFrame)
