package org.apache.spark

import org.apache.spark.rdd.RDD

/** Test hook: the operation scopes an RDD's lineage was built under.
  * A SQL physical operator runs `execute()` inside a scope named after
  * the node, so the names say which operators built the RDDs, and
  * `WholeStageCodegen (n)` marks a fused stage. Walks every dependency,
  * shuffle dependencies included; broadcast sides are not RDD
  * dependencies and are not seen.
  */
object RddScopes {
  def apply(rdd: RDD[_]): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Iterator[String] =
      if (!seen.add(r.id)) Iterator.empty
      else r.scope.iterator.flatMap(_.getAllScopes.map(_.name)) ++
        r.dependencies.iterator.flatMap(d => walk(d.rdd))
    walk(rdd).toSet
  }
}
