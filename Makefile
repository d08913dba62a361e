# Discovery contract mirroring the reference's Makefile targets
# (reference docs/design_principles.md:27 — install/test/artifacts).
# No runtime deps to install in this container; targets are the
# entry points a pipeline CI would call.

.PHONY: install test check check-oracle bench smoke doctor catalog scale-data scale-probe

install:
	@echo "dependencies are preinstalled (pyspark, pyarrow, pandas, numpy, duckdb, pytest, hypothesis)"

# The tier-1 gate, verbatim (ROADMAP.md "Tier-1 verify").
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Emulates the driver's CORRECTNESS gate: first-50-query window.
check:
	python tools/check_oracle.py --window 50

# Full-registry sweep over every queries() entry — the round-loop gate
# (the driver itself verifies only a 50-query window; this is how a
# red tail query gets caught before it ships).
check-oracle:
	python tools/check_oracle.py

bench:
	python bench.py

smoke:
	python -c "from pyspark.sql import SparkSession; import __spark_entry__ as E; \
	  s = SparkSession.builder.master('local[4]').getOrCreate(); \
	  print(E.entry(s).count(), 'rows')"

# Physical-plan anti-pattern audit over every registry query.
doctor:
	python tools/plan_doctor.py

# Regenerate docs/QUERIES.md from the live registry.
catalog:
	python tools/gen_catalog.py

# Scale evidence: build the 10x/100x replica sets and probe headliners
# (SCALE.md records the per-decade ratio tables; see tools/mk_scale_table.py).
scale-data:
	python tools/gen_scale.py --src /root/testdata/sf0.1 --dst /tmp/sf1 --k 10
	python tools/gen_scale.py --src /root/testdata/sf0.1 --dst /tmp/sf10 --k 100

scale-probe:
	python tools/scale_probe.py --sf /tmp/sf1

# The sf10 second-decade setting SCALE.md's round-10 tables were
# measured at: 16 g single-JVM heap (per-executor sizing a real
# cluster applies), 256 shuffle partitions (smaller per-task state).
scale-probe-sf10:
	SPARK_GRAFT_DRIVER_MEM=16g SPARK_GRAFT_SHUFFLE=256 \
	python tools/scale_probe.py --sf /tmp/sf10
