"""Link-graph benchmark: see README.md and ``python3 perfbench/run.py -h``."""
