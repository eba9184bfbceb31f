# Packaging + verification for the PySpark fulltext engine.

.PHONY: pyfiles test verify bench bench-serve bench-test scaling clean

# Zip the package for spark-submit --py-files (BASELINE.json:14).
pyfiles:
	rm -f oculus_crawl_spark.zip
	zip -qr oculus_crawl_spark.zip oculus_crawl_spark -x "*.pyc" -x "*__pycache__*"
	@echo "spark-submit --py-files oculus_crawl_spark.zip jobs/build_index.py ..."

test:
	python -m pytest tests/ -x -q

# Simulate the grading driver: fresh process, hostile TZ, sf0.01
# DuckDB oracle views, per-cell type equality (all 52 entries).
verify:
	python scripts/driver_check.py

bench:
	python bench.py

# One side of a serve A/B (perfbench/README.md): make bench-serve SEED=N
bench-serve:
	python3 perfbench/run.py --workload serve --seed $(SEED) --seconds 10 --trace 0

# The benchmark's own tests (no Spark).
bench-test:
	python3 -m pytest perfbench/test_perfbench.py -q

scaling:
	python scripts/scaling_bench.py

clean:
	rm -f oculus_crawl_spark.zip
	find . -name __pycache__ -type d -exec rm -rf {} +
