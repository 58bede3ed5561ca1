# Build/run targets for the rust_s2_spark engine.

PYFILES = dist/rust_s2_spark.zip

.PHONY: test check bench package submit clean

# The Tier-1 gate (ROADMAP.md): the whole suite under its 2,670 s budget.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

check:
	python tools/check_oracles.py /root/testdata/sf0.01

bench:
	python bench.py

package:
	mkdir -p dist
	rm -f $(PYFILES)
	cd . && zip -qr $(PYFILES) rust_s2_spark -i 'rust_s2_spark/*.py' 'rust_s2_spark/*/*.py'

# Production-shaped launch: spark-submit --py-files (north-rule ship vehicle).
# Local example; on a cluster swap --master for your resource manager.
submit: package
	spark-submit --master 'local[8]' --py-files $(PYFILES) \
	  jobs/spatial_join_job.py --n-docs 50000 --checkpoint-root /tmp/s2_submit_ckpt

clean:
	rm -rf dist /tmp/s2_submit_ckpt
