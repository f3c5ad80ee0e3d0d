check:
	python -m pytest tests/test_oracle_all.py -q

# The whole suite (~40 min serial on 4 cores); SPARK_GRAFT_SUITE=fast
# keeps only the fast tier (harness gates, bench plan goldens, the bench
# queries' oracle tests).
test:
	python -m pytest tests/ -x -q

# Same coverage split across as many worker processes as cores and RAM
# allow (see partest.py); one serial worker on a 4-core, 15 GB box.
test-par:
	python partest.py

bench:
	python bench.py
