package org.apache.spark.sql.execution.streaming.state

/** `StateStore.unloadAll` is package-private; this bridge lets the
  * benchmark unload the state stores of finished drains between passes. */
object LifebenchState {
  def unloadAll(): Unit = StateStore.unloadAll()
}
