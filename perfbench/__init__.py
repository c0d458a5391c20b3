"""Transfer benchmark for odbc2parquet_spark, driven from outside the package.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
from the repository root. See ``perfbench/README.md``.
"""
