import numpy as np
import pytest

from ariadne_spark.session import get_spark
from ariadne_spark.synth.images import write_images
from ariadne_spark.synth.regions import generate_regions, write_regions

N_IMAGES = 3000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="ariadne_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def no_python_rdd(spark, monkeypatch):
    """Fails the test if any DataFrame is built from a driver-side Python
    list: `createDataFrame(list)` always goes through
    `SparkContext.parallelize`, and every read of the pickled Python RDD
    it yields starts Python worker tasks. Driver-held rows must enter
    Spark as Arrow/pandas LocalRelations instead."""

    def refuse(*args, **kwargs):
        raise AssertionError(
            "SparkContext.parallelize called: driver-held rows must enter "
            "Spark as an Arrow/pandas LocalRelation"
        )

    monkeypatch.setattr(spark.sparkContext, "parallelize", refuse)


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("synth")
    write_images(str(d / "images.parquet"), N_IMAGES)
    write_regions(str(d / "regions.parquet"))
    return d


@pytest.fixture(scope="session")
def images_df(spark, data_dir):
    return spark.read.parquet(str(data_dir / "images.parquet"))


@pytest.fixture(scope="session")
def regions():
    return generate_regions()


@pytest.fixture(scope="session")
def images_np(data_dir):
    """The same images table as numpy arrays (pure-python oracle input)."""
    import pyarrow.parquet as pq

    t = pq.read_table(str(data_dir / "images.parquet"))
    return {name: t[name].to_numpy(zero_copy_only=False) for name in t.column_names}


def popcount64(a: np.ndarray) -> np.ndarray:
    """Vectorized popcount for int64 arrays (oracle-side)."""
    v = a.astype(np.uint64).view(np.uint8).reshape(*a.shape, 8)
    return np.unpackbits(v, axis=-1).sum(axis=-1).astype(np.int64)


@pytest.fixture(params=["posix", "objstore"], ids=["posix", "objstore"])
def backend_matrix(request, monkeypatch):
    """Runs the using module's tests on BOTH CommitBackend media: the
    POSIX default (hard-link CAS + temp-rename) and the object-store-
    semantics backend (conditional PUT only — no rename, no hard
    links, eventual list consistency). Applied module-wide via
    `pytestmark = pytest.mark.usefixtures("backend_matrix")` in the
    store concurrency-matrix modules (test_mor / test_zonemap /
    test_bloom); backend-specific crash/race injections live in
    test_objectstore.py / test_incremental.py."""
    if request.param == "objstore":
        import ariadne_spark.store as store_mod
        from ariadne_spark import object_backend as ob

        orig = store_mod.SnapshotStore.__init__

        def init(self, spark, root, backend=None):
            orig(
                self,
                spark,
                root,
                backend if backend is not None else ob.ObjectStoreCommitBackend(),
            )

        monkeypatch.setattr(store_mod.SnapshotStore, "__init__", init)
        yield request.param
        ob.reset_object_store()
    else:
        yield request.param
