# Live-Kafka proof rig (SURVEY.md §7 ADR-1, VERDICT r12 #6): the
# frozen parquet contract fixtures are the CI boundary; this target is
# the one-command way to ALSO prove the real-broker path outside the
# sandbox. It starts a single KRaft broker (deployment/kafka/), runs
# tests/test_kafka_live.py with the spark-sql-kafka connector pulled
# onto the session classpath (requires network for the first --packages
# resolution), and tears the broker down. Reference: Makefile.iidr:93-98.

PYSPARK_VERSION ?= $(shell python3 -c "import pyspark; print(pyspark.__version__)")
KAFKA_PACKAGE    = org.apache.spark:spark-sql-kafka-0-10_2.13:$(PYSPARK_VERSION)
COMPOSE          = docker compose -f deployment/kafka/docker-compose.yaml

.PHONY: kafka-up kafka-down kafka-live-test test nightly sinks artifacts perfbench-smoke bench

kafka-up:
	$(COMPOSE) up -d --wait

kafka-down:
	$(COMPOSE) down -v

kafka-live-test: kafka-up
	KAFKA_BOOTSTRAP_SERVERS=localhost:9092 \
	PYSPARK_SUBMIT_ARGS="--packages $(KAFKA_PACKAGE) pyspark-shell" \
	python3 -m pytest tests/test_kafka_live.py -v; \
	status=$$?; $(COMPOSE) down -v; exit $$status

# the Tier-1 verify command from ROADMAP.md
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the nightly tier that pytest.ini deselects by default
nightly:
	python -m pytest tests/ -m nightly -q -p no:cacheprovider

# the DB-sink suites (CDC apply, SCD2 history, document), nightly included
sinks:
	python -m pytest -m "" -q -p no:cacheprovider tests/test_streaming.py \
	  tests/test_sink_write_path.py tests/test_distributed_apply.py \
	  tests/test_history_sink.py tests/test_document_sink.py \
	  tests/test_streaming_extras.py tests/test_review_fixes.py

# the persisted-index suites (marker, generation and fsck protocol of
# operators/epoch_log.py and the seven index families), nightly included
artifacts:
	python -m pytest -m "" -q -p no:cacheprovider tests/test_epoch_log.py \
	  tests/test_index_check.py tests/test_fsck_golden.py \
	  tests/test_pq_index.py tests/test_bm25_index.py \
	  tests/test_dedup_index.py tests/test_lm_index.py tests/test_nb_index.py \
	  tests/test_decontam_index.py tests/test_boilerplate_index.py \
	  tests/test_cache_validation.py tests/test_erasure.py

# the CDC benchmark's own tests, at smoke size
perfbench-smoke:
	python3 -m pytest perfbench/test_perfbench.py -q

bench:
	python3 bench.py
