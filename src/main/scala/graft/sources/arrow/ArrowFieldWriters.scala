package graft.sources.arrow

import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Spark InternalRow → Arrow vector writers.
  *
  * Same shape as Spark's internal arrow bridge (which is private[sql]
  * and therefore not usable from a library): one small writer per
  * type, a `count` cursor per vector so list children can advance
  * independently of the row index.
  *
  * Re-expresses the reference's builder layer (reference:
  * cpp/src/arrow/builder.h) on Spark's row representation.
  */
private[sources] abstract class AFWriter {
  def vector: ValueVector
  var count: Int = 0
  def setNull(): Unit
  def setValue(g: SpecializedGetters, ordinal: Int): Unit
  final def write(g: SpecializedGetters, ordinal: Int): Unit = {
    if (g.isNullAt(ordinal)) setNull() else setValue(g, ordinal)
    count += 1
  }
  def finish(): Unit = vector.setValueCount(count)
  def reset(): Unit = { vector.reset(); count = 0 }
}

private[sources] object AFWriter {
  def apply(v: ValueVector, dt: DataType): AFWriter = (v, dt) match {
    case (x: NullVector, NullType) => new AFWriter {
      val vector = x
      def setNull(): Unit = ()
      def setValue(g: SpecializedGetters, o: Int): Unit = ()
    }
    case (x: BitVector, BooleanType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit =
        x.setSafe(count, if (g.getBoolean(o)) 1 else 0)
    }
    case (x: TinyIntVector, ByteType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getByte(o))
    }
    case (x: SmallIntVector, ShortType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getShort(o))
    }
    case (x: IntVector, IntegerType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getInt(o))
    }
    case (x: BigIntVector, LongType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getLong(o))
    }
    case (x: Float4Vector, FloatType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getFloat(o))
    }
    case (x: Float8Vector, DoubleType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getDouble(o))
    }
    case (x: VarCharVector, StringType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit =
        x.setSafe(count, g.getUTF8String(o).getBytes)
    }
    case (x: VarBinaryVector, BinaryType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getBinary(o))
    }
    case (x: DecimalVector, d: DecimalType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit =
        x.setSafe(count, g.getDecimal(o, d.precision, d.scale).toJavaBigDecimal)
    }
    case (x: DateDayVector, DateType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getInt(o))
    }
    case (x: TimeMicroVector, _: TimeType) => new AFWriter {
      // TIME is nanos-of-day internally; the time64(µs) vector floors
      // sub-micro digits (ArrowTypes maps TimeType → µs unit)
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit =
        x.setSafe(count, g.getLong(o) / 1000L)
    }
    case (x: TimeStampMicroTZVector, TimestampType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getLong(o))
    }
    case (x: TimeStampMicroVector, TimestampNTZType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getLong(o))
    }
    case (x: IntervalYearVector, _: YearMonthIntervalType) => new AFWriter {
      // Spark stores year-month intervals as total months (int)
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getInt(o))
    }
    case (x: DurationVector, _: DayTimeIntervalType) => new AFWriter {
      // Spark stores day-time intervals as total µs (long); the vector
      // is µs-unit duration (ArrowTypes.toArrowType)
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = x.setSafe(count, g.getLong(o))
    }
    case (x: IntervalMonthDayNanoVector, CalendarIntervalType) => new AFWriter {
      val vector = x
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val iv = g.getInterval(o)
        x.setSafe(count, iv.months, iv.days, iv.microseconds * 1000L)
      }
    }
    case (x: ListVector, ArrayType(elem, _)) => new AFWriter {
      val vector = x
      private val elemWriter = AFWriter(x.getDataVector, elem)
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val arr = g.getArray(o)
        x.startNewValue(count)
        var j = 0
        while (j < arr.numElements()) { elemWriter.write(arr, j); j += 1 }
        x.endValue(count, arr.numElements())
      }
      override def finish(): Unit = { elemWriter.finish(); super.finish() }
      override def reset(): Unit = { elemWriter.reset(); super.reset() }
    }
    case (x: org.apache.arrow.vector.complex.MapVector, MapType(kt, vt, _)) => new AFWriter {
      val vector = x
      private val entries = x.getDataVector.asInstanceOf[StructVector]
      private val keyWriter = AFWriter(entries.getChildByOrdinal(0), kt)
      private val valWriter = AFWriter(entries.getChildByOrdinal(1), vt)
      def setNull(): Unit = x.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val map = g.getMap(o)
        val keys = map.keyArray()
        val vals = map.valueArray()
        x.startNewValue(count)
        var j = 0
        while (j < map.numElements()) {
          entries.setIndexDefined(keyWriter.count)
          keyWriter.write(keys, j)
          valWriter.write(vals, j)
          j += 1
        }
        x.endValue(count, map.numElements())
      }
      override def finish(): Unit = {
        keyWriter.finish(); valWriter.finish()
        entries.setValueCount(keyWriter.count)
        super.finish()
      }
      override def reset(): Unit = { keyWriter.reset(); valWriter.reset(); super.reset() }
    }
    case (x: org.apache.arrow.vector.complex.UnionVector, st: StructType) => new AFWriter {
      // sparse union written from a struct-of-members row: exactly one
      // member non-null per row; the active member's MinorType is the
      // stored type tag (so members must have distinct arrow types —
      // the same constraint arrow-java's own union writers carry)
      val vector = x
      private val children: Array[AFWriter] =
        st.fields.indices.map { i =>
          AFWriter(x.getChildrenFromFields.get(i), st.fields(i).dataType)
        }.toArray
      private val minorTypes = children.map(_.vector.getMinorType)
      require(minorTypes.distinct.length == minorTypes.length,
        s"union members need distinct arrow types, got ${minorTypes.mkString(",")}")
      private def pad(skip: Int): Unit = {
        var j = 0
        while (j < children.length) {
          if (j != skip) { children(j).setNull(); children(j).count += 1 }
          j += 1
        }
      }
      def setNull(): Unit = {
        // unions have no top-level validity: a null row is all-null
        // members under an arbitrary tag
        x.setType(count, minorTypes(0))
        pad(skip = -1)
      }
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val row = g.getStruct(o, children.length)
        var active = -1
        var j = 0
        while (j < children.length) {
          if (!row.isNullAt(j)) {
            require(active < 0,
              "union rows must have exactly one non-null member, got several")
            active = j
          }
          j += 1
        }
        require(active >= 0, "union rows must have exactly one non-null member, got none")
        x.setType(count, minorTypes(active))
        children(active).write(row, active)
        pad(skip = active)
      }
      override def finish(): Unit = { children.foreach(_.finish()); super.finish() }
      override def reset(): Unit = { children.foreach(_.reset()); super.reset() }
    }
    case (x: StructVector, st: StructType) => new AFWriter {
      val vector = x
      private val children: Array[AFWriter] =
        st.fields.zipWithIndex.map { case (f, i) =>
          AFWriter(x.getChildByOrdinal(i), f.dataType)
        }
      def setNull(): Unit = {
        // children must stay aligned with the struct's row index
        children.foreach { c => c.setNull(); c.count += 1 }
        x.setNull(count)
      }
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val row = g.getStruct(o, children.length)
        x.setIndexDefined(count)
        var j = 0
        while (j < children.length) { children(j).write(row, j); j += 1 }
      }
      override def finish(): Unit = { children.foreach(_.finish()); super.finish() }
      override def reset(): Unit = { children.foreach(_.reset()); super.reset() }
    }
    case (other, dt) =>
      throw new UnsupportedOperationException(
        s"graft arrow writer: unsupported (${other.getClass.getSimpleName}, $dt)")
  }
}
