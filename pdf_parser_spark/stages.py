"""One scoped way to materialize an operator's intermediates.

Inside ``with scope(spark) as st:``, ``st.checkpoint(df, view=None)``
cuts the lineage eagerly, optionally under a temp view (SQL over a view
needs a checkpoint: Spark 4.1's cache substitution does not fire for a
cached view read inside a ``WITH`` CTE), and ``st.cache(df)`` persists
lazily, for loop rounds that one final action materializes.
``st.result(df)`` checkpoints the output and releases everything else;
leaving the block releases what is left, on an error too.  Release is
explicit because nothing else frees a checkpoint: its blocks stay after
its DataFrame is garbage-collected in Python and in the JVM.

A ``*_frame(st, ...)`` builder returns a lazy frame over intermediates
held by ``st``; ``materialized`` makes its scoped ``*_df`` form.
Registration takes a lock, so driver threads that materialize
independent branches share one scope."""

import threading
from contextlib import contextmanager


class Stages:
    """The intermediates one operator call has materialized."""

    def __init__(self, spark):
        self.spark = spark
        self._lock = threading.Lock()
        self._releases = []

    def _on_release(self, release) -> None:
        with self._lock:
            self._releases.append(release)

    def checkpoint(self, df, view: str = None):
        out = df.localCheckpoint()
        rdd = out._jdf.queryExecution().logical().rdd()
        self._on_release(lambda: rdd.unpersist(False))
        if view is not None:
            out.createOrReplaceTempView(view)
            self._on_release(lambda: self.spark.catalog.dropTempView(view))
        return out

    def cache(self, df):
        out = df.persist()
        self._on_release(out.unpersist)
        return out

    def result(self, df):
        out = df.localCheckpoint()  # outlives the scope
        self.release()
        return out

    def release(self) -> None:
        with self._lock:
            releases, self._releases = self._releases, []
        for release in reversed(releases):
            release()


@contextmanager
def scope(spark):
    st = Stages(spark)
    try:
        yield st
    finally:
        st.release()


def materialized(frame):
    """``frame(st, src, ...)`` as a function of ``(src, ...)`` — ``src``
    a session or a DataFrame of one — run in a scope of its own."""
    def run(src, *args, **kwargs):
        with scope(getattr(src, "sparkSession", src)) as st:
            return st.result(frame(st, src, *args, **kwargs))
    return run
