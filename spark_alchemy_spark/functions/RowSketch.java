package spark_alchemy;

import org.apache.datasketches.hll.HllSketch;
import org.apache.datasketches.hll.TgtHllType;
import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Iterator;
import scala.collection.Seq;

/** hll_init*'s per-row writer: the updatable HLL_8 image hll_sketch_agg writes. */
public final class RowSketch implements UDF2<Seq<Long>, Integer, byte[]> {
  @Override
  public byte[] call(Seq<Long> hashes, Integer lgK) {
    if (hashes == null) return null;
    HllSketch sketch = new HllSketch(lgK, TgtHllType.HLL_8);
    for (Iterator<Long> it = hashes.iterator(); it.hasNext(); ) sketch.update(it.next().longValue());
    return sketch.toUpdatableByteArray();
  }
}
