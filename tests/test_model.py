"""Model facade: the reference's ``class User(Model)`` declaration
surface (src/satya/__init__.py:215-337) driving the Spark engine —
single records via the cached StreamValidator, tables via
``validate_df`` (the scale path)."""

from __future__ import annotations

from typing import Dict, List, Optional

import pytest

from satya_spark.model import (
    EmailStr,
    Field,
    Model,
    ModelValidationError,
    PositiveInt,
    SecretStr,
)


class User(Model):
    name: str = Field(min_length=2, max_length=20)
    age: PositiveInt
    email: Optional[EmailStr] = None
    tags: Optional[List[str]] = None
    password: Optional[SecretStr] = None


@pytest.fixture(autouse=True)
def _attach_spark(spark):
    # route the class-level validator cache through the shared session
    User.validator(spark)
    yield


def test_model_valid_roundtrip(spark):
    u = User(name="Ada", age=36, email="ada@example.com", tags=["math"])
    assert u.name == "Ada" and u.age == 36
    d = u.model_dump(exclude_none=True)
    assert d == {
        "name": "Ada",
        "age": 36,
        "email": "ada@example.com",
        "tags": ["math"],
    }
    assert '"name": "Ada"' in u.model_dump_json(exclude_none=True)


def test_model_invalid_raises_with_errors(spark):
    with pytest.raises(ModelValidationError) as ei:
        User(name="A", age=0)
    cons = {(e.field, e.constraint) for e in ei.value.errors}
    assert ("name", "min_length") in cons and ("age", "gt") in cons


def test_model_type_error_accumulates(spark):
    with pytest.raises(ModelValidationError) as ei:
        User(name="Ada", age="old")
    assert any(e.constraint == "type" for e in ei.value.errors)


def test_model_secret_masked(spark):
    class Login(Model):
        password: SecretStr = Field(min_length=8)

    Login.validator(spark)
    with pytest.raises(ModelValidationError) as ei:
        Login(password="short")
    assert all("short" != e.value for e in ei.value.errors)
    assert any(e.value == "**********" for e in ei.value.errors)


def test_model_validate_json_and_batch(spark):
    u = User.model_validate_json('{"name": "Bo", "age": 2}')
    assert u.age == 2
    bools = User.model_validate_batch(
        [{"name": "Ok", "age": 1}, {"name": "x", "age": 1}, {"name": "Ok", "age": -1}]
    )
    assert bools == [True, False, False]


def test_model_optional_and_annotations(spark):
    class Doc(Model):
        doc_id: int
        meta: Optional[Dict[str, str]] = None
        score: float = 0.5

    Doc.validator(spark)
    d = Doc(doc_id=1, meta={"a": "b"})
    assert d.meta == {"a": "b"} and d.score == 0.5
    spec = Doc.spec()
    assert spec.field("meta").dtype == "map<string,string>"
    assert not spec.field("meta").required
    assert not spec.field("score").required  # has default


def test_model_validate_df_is_the_scale_path(spark):
    df = spark.createDataFrame(
        [("Ada", 36), ("x", 0)], "name string, age long"
    )
    out = User.validate_df(df)
    rows = {r["name"]: r for r in out.collect()}
    assert rows["Ada"]["valid"] is True
    bad = rows["x"]
    assert bad["valid"] is False
    got = {(v["field"], v["constraint_name"]) for v in bad["violations"]}
    assert got == {("name", "min_length"), ("age", "gt")}


def test_model_pep604_optional(spark):
    class Note(Model):
        body: str
        tag: str | None = None

    Note.validator(spark)
    n = Note(body="hi")
    assert n.tag is None
    assert not Note.spec().field("tag").required


def test_model_rejects_non_optional_unions(spark):
    with pytest.raises(TypeError, match="unsupported Model annotation"):
        class Bad(Model):
            v: int | str


# --- facade tail: config modes, construct/copy, JSON-bytes APIs ------------

def test_model_config_extra_modes(spark):
    class Loose(Model):
        model_config = {"extra": "allow"}
        name: str = Field(min_length=2)

    class Strict(Model):
        model_config = {"extra": "forbid"}
        name: str = Field(min_length=2)

    Loose.validator(spark)
    Strict.validator(spark)
    m = Loose(name="Ada", nickname="A.")
    assert m.nickname == "A." and m.dict()["nickname"] == "A."
    with pytest.raises(ModelValidationError) as ei:
        Strict(name="Ada", nickname="A.")
    assert any(e.constraint == "extra_field" for e in ei.value.errors)


def test_extra_allow_round_trips_through_dump(spark):
    # extra='allow' keys must survive model_dump / model_dump_json —
    # the reference iterates self._data (src/satya/__init__.py:752+,
    # 866-872), so extras the user opted into are not dropped on dump
    class Loose(Model):
        model_config = {"extra": "allow"}
        name: str = Field(min_length=2)

    Loose.validator(spark)
    m = Loose(name="Ada", nickname="A.", score=7)
    d = m.model_dump()
    assert d == {"name": "Ada", "nickname": "A.", "score": 7}
    # declared fields keep declaration order; extras follow
    assert list(d) == ["name", "nickname", "score"]
    assert '"nickname": "A."' in m.model_dump_json()
    # include/exclude apply to extras too
    assert m.model_dump(exclude={"nickname"}) == {"name": "Ada", "score": 7}
    assert m.model_dump(include={"score"}) == {"score": 7}


def test_model_frozen(spark):
    class Frozen(Model):
        model_config = {"frozen": True}
        name: str = Field(min_length=2)

    Frozen.validator(spark)
    m = Frozen(name="Ada")
    with pytest.raises(ValueError):
        m.name = "Bob"


def test_model_construct_skips_validation(spark):
    # invalid data passes through unvalidated (Pydantic semantics)
    m = User.model_construct(name="x", age=-5)
    assert m.name == "x" and m.age == -5


def test_model_copy_and_aliases(spark):
    u = User(name="Ada", age=36)
    v = u.model_copy(update={"age": 37})
    assert v.age == 37 and u.age == 36
    with pytest.raises(ModelValidationError):
        u.model_copy(update={"age": 0})  # copy re-validates
    assert User.parse_obj({"name": "Ada", "age": 1}).age == 1
    assert User.parse_raw('{"name": "Ada", "age": 2}').age == 2
    assert User.model_validate_fast({"name": "Ada", "age": 3}).age == 3
    many = User.validate_many([{"name": "Ada", "age": 4}, {"name": "Bo", "age": 5}])
    assert [m.age for m in many] == [4, 5]


def test_model_json_bytes_apis(spark):
    m = User.model_validate_json_bytes(b'{"name": "Ada", "age": 36}')
    assert m.age == 36
    assert User.model_validate_json_array_bytes(
        b'[{"name": "Ada", "age": 36}, {"name": "x", "age": 0}, 5]'
    ) == [True, False, False]
    assert User.model_validate_ndjson_bytes(
        b'{"name": "Ada", "age": 36}\nnot json\n{"name": "x", "age": 0}\n'
    ) == [True, False, False]
    with pytest.raises(ModelValidationError):
        User.model_validate_json_bytes(b"[1,2]")


def test_schema_aliases_and_extra_mapping(spark):
    class Strict2(Model):
        model_config = {"extra": "forbid"}
        name: str = Field(min_length=2)

    js = Strict2.model_json_schema()
    assert js["additionalProperties"] is False
    assert Strict2.json_schema() == js and Strict2.schema() == js


def test_exclude_unset_and_defaults(spark):
    class D(Model):
        name: str = Field(min_length=2)
        status: str = Field(default="new", enum=("new", "done"))
        note: Optional[str] = None

    D.validator(spark)
    m = D(name="Ada")
    assert m.__fields_set__ == {"name"}
    assert m.model_dump(exclude_unset=True) == {"name": "Ada"}
    assert m.model_dump(exclude_defaults=True, exclude_none=True) == {
        "name": "Ada"
    }
    m2 = D(name="Ada", status="new")  # explicitly set to the default
    assert m2.model_dump(exclude_unset=True) == {"name": "Ada", "status": "new"}
    assert m2.model_dump(exclude_defaults=True, exclude_none=True) == {
        "name": "Ada"
    }
    m2.note = "hi"  # assignment marks the field as set
    assert "note" in m2.__fields_set__


def test_validate_assignment(spark):
    class VA(Model):
        model_config = {"validate_assignment": True}
        name: str = Field(min_length=2)

    VA.validator(spark)
    m = VA(name="Ada")
    m.name = "Bob"  # valid assignment passes
    assert m.name == "Bob"
    with pytest.raises(ModelValidationError):
        m.name = "x"  # min_length kernel fires on assignment
    assert m.name == "Bob"  # rejected assignment leaves value intact


# --- facade routes: eligible specs start no Spark job ------------------------

def _new_job_ids(spark, fn):
    """Spark job ids started while ``fn()`` runs (a job group of its
    own, listener bus drained before each read)."""
    sc = spark.sparkContext

    def ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup("facade-route-pin"))

    sc.setJobGroup("facade-route-pin", "facade route job-count pin")
    try:
        before = ids()
        fn()
        return ids() - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_eligible_model_starts_no_spark_job(spark):
    class Pinned(Model):
        model_config = {"validate_assignment": True}
        name: str = Field(min_length=2, pattern=r"^[A-Z][a-z]+$")
        email: EmailStr
        score: float = Field(ge=0.0, lt=100.0, multiple_of=0.5)
        tags: List[str] = Field(min_items=1, unique_items=True)

    Pinned.validator(spark)
    ok = {"name": "Ada", "email": "ada@example.com", "score": 2.5, "tags": ["a"]}

    def construct_and_assign():
        m = Pinned(**ok)
        m.score = 3.0
        with pytest.raises(ModelValidationError):
            m.score = 3.3
        with pytest.raises(ModelValidationError):
            Pinned(**{**ok, "name": "x"})

    assert _new_job_ids(spark, construct_and_assign) == set()
    batch = [ok, {**ok, "score": float("nan")}, {**ok, "tags": ["a", "a"]}]
    got = []
    assert _new_job_ids(spark, lambda: got.extend(Pinned.model_validate_batch(batch))) == set()
    assert got == [True, False, False]


def test_ineligible_model_still_runs_spark(spark):
    class Letters(Model):
        # \p{L} has no Python-dialect translation: Spark route
        word: str = Field(pattern=r"^\p{L}+$")

    Letters.validator(spark)
    assert _new_job_ids(spark, lambda: Letters(word="héllo"))
    with pytest.raises(ModelValidationError):
        Letters(word="h3llo")
