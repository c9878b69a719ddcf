"""Seeded end-to-end benchmark for the spatially_databricks_etl_spark engine.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see
``perfbench/README.md``.
"""
