package org.apache.spark.ml.feature

import org.apache.spark.ml.linalg.Vector

/** Test-side access to `VectorAssembler`'s per-row kernel (package
  * private), the oracle of `graft.functions.AssembleVectors`.
  */
object AssemblerBridge {
  /** One row assembled as VectorAssembler does with handleInvalid = "error". */
  def assemble(blocks: Seq[Vector]): Vector =
    VectorAssembler.assemble(blocks.map(_.size).toArray, keepInvalid = false)(blocks: _*)
}
