package graft.util

import java.util.concurrent.ConcurrentHashMap

/** The get / build / putIfAbsent memo shape, for builds that run Spark jobs
  * or nest. `computeIfAbsent` runs the build while it holds the map's bin
  * lock: a nested build on the same map throws IllegalStateException
  * ("Recursive update"), and a slow build blocks every key of its bin. Here
  * a rare concurrent double build is harmless: both values are valid and
  * one wins the publish. */
object Memo {
  def getOrBuild[K, V <: AnyRef](cache: ConcurrentHashMap[K, V], key: K)(build: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = cache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }
}
