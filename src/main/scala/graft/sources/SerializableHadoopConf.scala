package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration

/** Ship the session's Hadoop configuration into executor tasks.
  *
  * `Configuration` itself is not java-serializable, so executor-side code
  * that naively does `new Configuration()` silently drops every session
  * setting — S3A credentials, endpoint overrides, custom FS options — and
  * works only on a local filesystem. This wrapper serializes via the
  * Writable protocol (`Configuration.write`/`readFields`), the same trick
  * Spark uses internally, so a broadcast of the session's Hadoop conf
  * (`sessionState.newHadoopConf()`) reconstitutes faithfully in each task.
  * Deserialization starts from `new Configuration(false)` (no default
  * resources) — the state is exactly what the driver had, nothing else.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
