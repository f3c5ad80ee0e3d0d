"""Per-task entry of the engine's Python iterator kernels.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``).  On CPython
3.10-3.12, ``zipimport.zipimporter.invalidate_caches()`` re-reads its
archive's whole central directory, and a reused worker holds one cached
zipimporter per package it imported from a zip on its path: on PySpark 4.1,
12 over ``pyspark.zip`` (1,328 entries), 2 over the py4j zip and 2 over the
Spark core jar (5,359 entries), which ``PythonUtils.sparkPythonPath`` puts
on the workers' path.  On a 4-core x86 host (CPython 3.11) a no-op
``mapInPandas`` task ran for 227-234 ms on average, and for 66-75 ms once
the worker's zipimporters were gone.  (CPython 3.13 made the re-read lazy.)
"""

from __future__ import annotations


def python_task(fn):
    """Wrap a one-argument iterator kernel for ``mapInPandas`` /
    ``mapInArrow`` so that its task first drops every zipimporter from the
    worker's ``sys.path_importer_cache``, then runs ``yield from fn(it)``.

    Dropping an entry is safe: the cache only memoizes finders, and a later
    import that needs one rebuilds it (one read).  Workers are pooled, so
    every later task on a worker that ran a wrapped kernel skips the
    re-reads, whatever it runs.  The closure imports what it uses and is
    pickled by value, like the kernels it wraps: the workers never import
    this package.

    Not for ``applyInPandas``, ``pandas_udf`` or ``F.udf``: the grouped-map
    worker picks key-or-no-key from the function's argspec and pandas UDFs
    read its type hints, both of which a wrapper hides.
    """

    def task(it):
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path in [
            p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
        ]:
            del cache[path]
        yield from fn(it)

    task.__name__ = fn.__name__  # the plan's MapInPandas node names the kernel
    return task
