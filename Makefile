check:
	python selfcheck.py

# The whole suite (~40 min serial on 4 cores); SPARK_GRAFT_SUITE=fast
# keeps only the fast tier (harness gates, bench plan goldens, the bench
# queries' oracle tests).
test:
	python -m pytest tests/ -x -q

# Same coverage split across 6 worker processes (see partest.py);
# ~3x faster wall on a 32-core box.
test-par:
	python partest.py

bench:
	python bench.py
