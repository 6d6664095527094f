# Build/test/bench entry points.
#
# `make package` produces the spark-submit artifact (BASELINE.json:
# "packaged for spark-submit --py-files on multi-executor clusters"):
#     spark-submit --py-files dist/mds_provider_spark.zip your_job.py

.PHONY: test bench package oracle plans parity loc clean

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

oracle:
	python tools/oracle_check.py

plans:
	python tools/explain_audit.py

# schema-compiler parity vs jsonschema on the nested GeoJSON and the
# conditional (oneOf/anyOf/dependencies) schemas; each asserts
# missing=0 extra=0
parity:
	python tools/nested_shootout.py 5000
	python tools/combinator_shootout.py 5000

# tracked line count (ROADMAP): the library plus the query entry file
loc:
	@cat __spark_entry__.py $$(find mds_provider_spark -name '*.py') | wc -l

package:
	mkdir -p dist
	rm -f dist/mds_provider_spark.zip
	zip -qr dist/mds_provider_spark.zip mds_provider_spark
	@echo "dist/mds_provider_spark.zip ready: spark-submit --py-files dist/mds_provider_spark.zip <job.py>"

clean:
	rm -rf dist .pytest_cache
