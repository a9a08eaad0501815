import os

import pytest

# One BLAS thread in the test process, as in every Spark Python worker
# (session.get_spark sets the same, but BLAS reads it only when numpy is
# first imported).  A multi-threaded float32 matmul splits rows across
# threads and can round a row differently from the single-threaded call,
# so driver-side CP keys (knn's query index, tests' numpy references)
# would not be bit-comparable with the workers'.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


@pytest.fixture(scope="session")
def spark():
    from lsh_project_spark.session import get_spark

    s = get_spark(app="tests", cores=8, shuffle_partitions=16)
    yield s
    s.stop()
