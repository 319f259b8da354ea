"""bossarrowstorageengine_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``jack-pearce/BOSSArrowStorageEngine`` (an Arrow-format BOSS
storage-engine plugin; see SURVEY.md).  The reference snapshot implements only
the engine *contract* (total evaluate with reified errors, pass-through,
reset lifecycle — ``/root/reference/Source/BOSSArrowStorageEngine.cpp:29-59``);
this package supplies the full analytics surface on top of Spark SQL /
DataFrame / Structured Streaming:

- ``engine``      — the Engine wrapper honoring the reference contract
                    (C1 reified errors, C2 pass-through, C4 reset).
- ``operators``   — the SURVEY.md §2 query surface (scans, filters, joins,
                    aggregates, windows, set ops, scalar funcs, event-time,
                    LLM-pipeline, UDF showcase).
- ``sources``     — the Arrow IPC custom data source ("arrowipc" format)
                    with zstd/lz4 compression — the identity capability.
- ``functions``   — reusable column-expression helpers (vector math, text
                    analysis, hashing/minhash).
- ``plans``       — partitioning/broadcast/skew helpers + scale notes for
                    the 100 TB design point.
- ``streaming``   — Structured Streaming harness for the event-time ops.
"""

# First: every Spark Python worker that unpickles engine code imports this
# package, and the shim must be in place before the worker's next task.
from bossarrowstorageengine_spark import _pyworker  # noqa: F401
from bossarrowstorageengine_spark.engine import Engine, EngineError, EngineResult

__all__ = ["Engine", "EngineError", "EngineResult"]
__version__ = "0.1.0"
