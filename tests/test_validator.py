from pyspark.sql.types import LongType, StringType

from puma_matcher_spark import schemas, validator


def test_has_column_checks_name_and_type(spark):
    df = spark.createDataFrame([(1, "a")], ["document_version_id", "x"])
    assert validator.has_column(df, "document_version_id", LongType())
    assert not validator.has_column(df, "document_version_id", StringType())
    assert not validator.has_column(df, "missing", LongType())


def test_assert_compliant_raises_with_context(spark):
    df = spark.createDataFrame([(1,)], ["document_version_id"])
    try:
        validator.assert_compliant(df, schemas.ENTITIES_ID, ctx="stage X")
        raise AssertionError("should have raised")
    except ValueError as e:
        assert "stage X" in str(e)
        assert "entity_id" in str(e)


def test_entity_type_ids_are_stable():
    assert schemas.EntityType.PERSON.type_id == 1
    assert schemas.EntityType.COSINE_TITLE.type_id == 15
    assert schemas.EntityType.from_string("doi").type_id == 6
