"""tzspark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of evanoberholster/timezoneLookup
(/root/reference, Go, single-node mmap + R-tree) as a distributed
point-in-polygon join: driver-compiled compact cell cover, shipped to
executors as one memory-mapped index file, probed by vectorized Arrow UDFs —
no per-row Python. See SURVEY.md for the full design mapping.
"""

__version__ = "0.1.0"

# Spark Python workers import this package when they unpickle a kernel and
# its index-file handle; from then on their per-task import-cache refresh skips
# unchanged zip archives (see _zipimport.py).
from ._zipimport import install_guarded_refresh as _install_guarded_refresh

_install_guarded_refresh()
