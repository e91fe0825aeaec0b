# Convenience entry points; everything here shells into scripts/ with
# the same environment the driver uses.

STRESS_OPS ?= dedup_exact,dedup_minhash_lsh,dedup_simhash,dedup_pipeline,dedup_cross_corpus,dedup_cross_corpus_minhash,dedup_cross_corpus_indexed,corpus_train_shards

.PHONY: test bench perfbench perfbench-trace perfbench-ab sweep stress stress-100

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

# the BENCHMARK.json workloads at their own settings: end-to-end
# metrics (perfbench), per-layer metrics (perfbench-trace)
SEED ?= 1
TRACE = 0
perfbench-trace: TRACE = 1

perfbench perfbench-trace:
	for w in batch_analytics stream_ingest; do \
		python3 perfbench/run.py --workload $$w --seed $(SEED) --seconds 10 --trace $(TRACE) || exit 1; \
	done

# alternating parent/change pairs of one workload at the benchmark's
# settings (seeds SEED .. SEED+PAIRS-1), with the gain-claim rule:
#   make perfbench-ab PARENT=../parent PAIRS=10 WORKLOAD=batch_analytics SEED=101
PAIRS ?= 10
WORKLOAD ?= batch_analytics
perfbench-ab:
	python3 scripts/perfbench_ab.py --parent $(PARENT) --pairs $(PAIRS) --workload $(WORKLOAD) --seed $(SEED)

# full-registry oracle sweep at sf0.01 (the driver-replica shape)
sweep:
	python tests/driver_replica.py /root/testdata/sf0.01

# 30× sf0.1 stress: the dedup/simhash/index family at 1.5M docs, with
# band-bucket guard activations recorded per op (SCALING.md table)
stress:
	SMOKE_OPS=$(STRESS_OPS) python scripts/scale_smoke.py 30

# 100× decade (5M docs) for the linear-scan subset — the quadratic-in-
# output ops stay at 30× where their true pair lists remain bounded
stress-100:
	SMOKE_OPS=dedup_exact,dedup_minhash_lsh,dedup_pipeline,dedup_cross_corpus_indexed,corpus_train_shards python scripts/scale_smoke.py 100
