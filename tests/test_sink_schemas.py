"""The sink schemas in ``schemas.py`` are the plans' real output schemas:
column names and SQL types (``simpleString``, so nullability — of columns
and of array/map elements — is the plans' own) of the parse outputs and of
the aggregate sinks, built over an empty input."""

from log_parser_mind_spark import schemas
from log_parser_mind_spark.operators.parse import parse_pipeline
from log_parser_mind_spark.plans.job import build_sinks


def _cols(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_sink_schemas_match_plan_outputs(spark):
    empty = spark.createDataFrame([], schemas.TRANSCRIPTS)
    # parsed_turns before enrich and route, which add three columns
    parsed, templates, _ = parse_pipeline(empty)
    assert _cols(parsed.schema) == _cols(schemas.PARSED_TURNS)
    assert _cols(templates.schema) == _cols(schemas.TEMPLATES)
    sinks = build_sinks(spark, empty, now="2024-01-02 00:00:00")
    assert _cols(sinks["hourly_rollup"].schema) == _cols(schemas.HOURLY_ROLLUP)
    assert _cols(sinks["error_rates"].schema) == _cols(schemas.ERROR_RATES)
    assert _cols(sinks["alerts"].schema) == _cols(schemas.ALERTS)
