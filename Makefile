check:
	python -m pytest tests/test_oracle_all.py -q

# The whole suite (1,502 s serial on a 4-core, 15 GB box);
# SPARK_GRAFT_SUITE=fast keeps only the fast tier (harness gates, bench
# plan goldens, the bench queries' oracle tests).
test:
	python -m pytest tests/ -x -q

# Same coverage split across as many worker processes as cores and RAM
# allow (see partest.py); one serial worker on a 4-core, 15 GB box.
test-par:
	python partest.py

bench:
	python bench.py

# Traced perfbench runs (seed 1) of both workloads: the per-layer numbers
# (build.jobs, build.s, exec.*, ...) a performance change cites.  Each run
# prints its metrics as the last line of its output.  python.run_s is the
# Python workers' task time; it includes PySpark's per-task setup, which
# auron_spark.functions.pytask.python_task keeps small for the Arrow kernels.
perf:
	python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 1
	python3 perfbench/run.py --workload vector --seed 1 --seconds 10 --trace 1
