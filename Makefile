# Packaging + deployment targets (north rule: spark-submit --py-files)

PKG = bloomfilter_multithread_spark
DIST = dist/$(PKG).zip

.PHONY: dist submit-demo submit-demo-cluster probe-demo test bench task-overhead route-cutoff clean

dist:
	mkdir -p dist
	rm -f $(DIST)
	zip -qr $(DIST) $(PKG) -x '*__pycache__*'

# end-to-end spark-submit evidence on local[*]; on a real cluster add
# --master yarn/k8s + executor confs — the job is unchanged
submit-demo: dist
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_build.py \
	  --input synth:20000 \
	  --bloom-key text --capacity 200000 --blocked --route \
	  --state /tmp/sketch_state_demo

# the reference's QUERY phase as its own application: a second
# spark-submit job that shares only the persisted state dir with the
# build (run after submit-demo). The probe input deliberately overlaps
# the build corpus (same seed, 25k vs 20k convs): the first 20k convs
# must all hit (zero FN), the tail hits only at the FPR.
probe-demo: dist
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_probe.py \
	  --state /tmp/sketch_state_demo \
	  --input synth:25000 --sketch bloom_key --key text

# REAL multi-executor evidence: local-cluster[2,2,2048] launches two
# separate executor JVMs (own block managers, real serialization +
# broadcast + shuffle across process boundaries). Unlike local[*], the
# executors' Python workers can only import the package through the
# --py-files zip — this target is the strongest in-sandbox proof of the
# north rule's deployment path. Same job, same state layout.
submit-demo-cluster: dist
	spark-submit --master 'local-cluster[2,2,2048]' \
	  --conf spark.executor.memory=1g \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files $(DIST) scripts/submit_build.py \
	  --input synth:20000 \
	  --bloom-key text --capacity 200000 --blocked --route \
	  --state /tmp/sketch_state_demo_cluster

test:
	python -m pytest tests/ -q

bench:
	python bench.py

# wall time of a 16-partition no-op mapInArrow on local[nproc], cold and
# warm workers: the fixed cost every Python task of a build pays
task-overhead:
	PYTHONPATH=$(CURDIR) python scripts/task_overhead.py

# routed vs unrouted build_and_persist + load_sketches at Bloom m = 2^20..2^27,
# 100k and 1M rows, on local[nproc]: where ROUTE_MIN_BYTES should sit
route-cutoff:
	PYTHONPATH=$(CURDIR) python scripts/route_cutoff.py

clean:
	rm -rf dist
