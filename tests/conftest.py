from __future__ import annotations

import pytest
from pyspark.rdd import RDD
from pyspark.serializers import BatchedSerializer, CPickleSerializer

from kgraph_spark.session import get_spark

_pickled = RDD._pickled


def _pickled_batches_as_is(self):
    """`spark.createDataFrame(list)` parallelizes the rows with a
    BatchedSerializer, and RDD._pickled re-serializes any RDD whose
    serializer is not the context's AutoBatchedSerializer through a Python
    identity map. That map is a PythonRDD under the frame's `Scan
    ExistingRDD`, so every stage that reads a test's input frame forked
    Python tasks to copy pickles: one 4-row stats call ran 37 stages in 5.3 s,
    1.6 s without it. Both serializers write each batch as one pickled list,
    which SerDeUtil.pythonToJava(batched=True) unpickles in the JVM, so the
    batches go over as they are: the rows, the plan, its partitions and its
    statistics are the same."""
    d = self._jrdd_deserializer
    if type(d) is BatchedSerializer and type(d.serializer) is CPickleSerializer:
        return self
    return _pickled(self)


RDD._pickled = _pickled_batches_as_is


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgraph_spark_tests", parallelism=8, shuffle_partitions=8)
    yield s


def plan_text(df) -> str:
    """Formatted physical plan as a string (explain prints to stdout)."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
