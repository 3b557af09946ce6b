import pytest

from codeontologypython_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(shuffle_partitions=8, app_name="tests")
    yield s


@pytest.fixture(scope="session")
def source_files(spark):
    from codeontologypython_spark.corpus.fixtures import source_files_df
    return source_files_df(spark).cache()


@pytest.fixture(scope="session")
def extracted(spark, source_files):
    """Shared Stage-1 output: extract once per test session."""
    from codeontologypython_spark.operators.extract import (
        extract_stage,
        split_extraction,
    )
    out = extract_stage(source_files).cache()
    out.count()
    entities, triples, mentions, errors = split_extraction(out)
    return {
        "raw": out,
        "entities": entities.cache(),
        "triples": triples.cache(),
        "mentions": mentions.cache(),
        "errors": errors.cache(),
    }


@pytest.fixture(scope="session")
def final_triples(spark, extracted):
    """Shared canonical triples (Stages 2+3), manifest-classified like the
    goldens (tools/make_goldens.py)."""
    from codeontologypython_spark.corpus.fixtures import project_manifest_df
    from codeontologypython_spark.plans.pipeline import build_kg

    return build_kg(extracted["raw"],
                    manifest=project_manifest_df(spark)).cache()
