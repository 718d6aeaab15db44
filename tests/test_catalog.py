"""Control plane: PipelineMap CRUD + validation semantics
(PipelineMap.scala:14-71, FlinkSpoke.scala:203-215)."""

from __future__ import annotations

from omldm_spark.plans.catalog import PipelineCatalog


def _create(learner="PA", pid=1, protocol=None, pre=None):
    req = {"id": pid, "request": "Create", "learner": {"name": learner}}
    if protocol:
        req["trainingConfiguration"] = {"protocol": protocol}
    if pre is not None:
        req["preProcessors"] = pre
    return req


def test_create_validates_learner_whitelist():
    cat = PipelineCatalog()
    assert cat.apply_request(_create("PA")) == "Create"
    assert cat.apply_request(_create("NotALearner", pid=2)) is None
    assert list(cat.pipelines) == [1]


def test_create_existing_id_ignored():
    cat = PipelineCatalog()
    cat.apply_request(_create("PA"))
    assert cat.apply_request(_create("SVM", pid=1)) is None
    assert cat.pipelines[1].learner == "PA"


def test_invalid_preprocessor_drops_request():
    cat = PipelineCatalog()
    bad = _create("PA", pre=[{"name": "Nope"}])
    assert cat.apply_request(bad) is None
    ok = _create("PA", pre=[{"name": "StandardScaler"}])
    assert cat.apply_request(ok) == "Create"


def test_single_learner_forced_for_kmeans_and_ht():
    cat = PipelineCatalog(parallelism=8)
    cat.apply_request(_create("K-means", pid=1, protocol="Synchronous"))
    cat.apply_request(_create("HT", pid=2, protocol="Asynchronous"))
    assert cat.pipelines[1].protocol == "SingleLearner"
    assert cat.pipelines[2].protocol == "SingleLearner"


def test_centralized_forced_at_parallelism_1():
    cat = PipelineCatalog(parallelism=1)
    cat.apply_request(_create("PA", protocol="Synchronous"))
    assert cat.pipelines[1].protocol == "CentralizedTraining"


def test_crud_on_missing_ids_ignored():
    cat = PipelineCatalog()
    assert cat.apply_request({"id": 9, "request": "Delete"}) is None
    assert cat.apply_request({"id": 9, "request": "Query"}) is None
    assert cat.apply_request({"id": 9, "request": "Update"}) is None


def test_delete_and_query():
    cat = PipelineCatalog()
    cat.apply_request(_create("PA"))
    assert cat.apply_request({"id": 1, "request": "Query", "requestId": 7}) == "Query"
    assert cat.responses[0]["responseId"] == 7
    assert cat.apply_request({"id": 1, "request": "Delete"}) == "Delete"
    assert not cat.pipelines


def test_persistence_roundtrip(tmp_path):
    p = str(tmp_path / "catalog.jsonl")
    cat = PipelineCatalog(path=p)
    cat.apply_request(_create("SVM"))
    cat.pipelines[1].model = {"w": [1.0, 2.0], "n": 10, "cum_loss": 0.5}
    cat.save()
    cat2 = PipelineCatalog(path=p)
    assert cat2.pipelines[1].learner == "SVM"
    assert cat2.pipelines[1].model["w"] == [1.0, 2.0]


def test_requests_applied_in_arrival_order(spark):
    """r2 ADVICE: a Delete-then-reCreate of the same id inside one
    micro-batch must replay in requestId (arrival) order, leaving the new
    pipeline live — not alphabetically (Create before Delete -> deleted)."""
    cat = PipelineCatalog()
    cat.apply_request(_create("PA"))
    assert cat.pipelines[1].learner == "PA"
    reqs = spark.createDataFrame(
        [
            (1, 11, "Delete", None),
            (1, 12, "Create", "SVM"),
        ],
        "id long, requestId long, request string, lname string",
    ).selectExpr(
        "id", "requestId", "request",
        "named_struct('name', lname) AS learner",
    )
    actions = cat.apply_requests_df(reqs)
    assert actions == ["Delete", "Create"]
    assert cat.pipelines[1].learner == "SVM"


def test_request_frame_decodes_as_its_rows(spark):
    """``apply_requests_df`` collects the request frame as Arrow: structs,
    maps and arrays of structs reach the catalog as the dicts and lists a
    request row holds — here the hyperparameters, the chain and the
    training configuration of a Create, and the bare ``learner`` struct
    ``streaming_train_predict`` builds."""
    rows = [
        (1, "Create", {"name": "PA", "hyperParameters": {"C": "0.5"}},
         [{"name": "StandardScaler", "hyperParameters": {}}],
         {"protocol": "FGM", "HubParallelism": "2"}),
        (2, "Create", {"name": "SVM", "hyperParameters": None}, None, None),
        (3, "Create", {"name": "NotALearner", "hyperParameters": None},
         None, None),
    ]
    schema = ("id long, request string, learner struct<name: string, "
              "hyperParameters: map<string, string>>, preProcessors "
              "array<struct<name: string, hyperParameters: "
              "map<string, string>>>, trainingConfiguration "
              "map<string, string>")
    cat = PipelineCatalog()
    assert cat.apply_requests_df(spark.createDataFrame(rows, schema)) == [
        "Create", "Create"]
    pa_spec, svm = cat.pipelines[1], cat.pipelines[2]
    assert (pa_spec.hyper, pa_spec.protocol, pa_spec.hub_parallelism) == (
        {"C": "0.5"}, "FGM", 2)
    assert pa_spec.preprocessors == [
        {"name": "StandardScaler", "hyperParameters": {}}]
    assert (svm.hyper, svm.preprocessors, svm.protocol) == (
        {}, [], "Asynchronous")
    bare = spark.createDataFrame([(4, "Create", "HT")],
                                 "id long, request string, lname string")
    assert cat.apply_requests_df(bare.selectExpr(
        "id", "request", "named_struct('name', lname) AS learner")) == [
        "Create"]
    assert cat.pipelines[4].protocol == "SingleLearner"


def test_save_mid_write_failure_keeps_previous_catalog(tmp_path, monkeypatch):
    """A save that fails part way (here a pipeline's ``to_json`` raises
    after the first pipeline was written) leaves the previous catalog
    whole: it still loads, with every pipeline in it."""
    import pytest

    path = str(tmp_path / "cat.jsonl")
    cat = PipelineCatalog(path=path)
    for pid in (1, 2, 3):
        assert cat.apply_request(_create("PA", pid=pid)) == "Create"
    cat.save()
    cat.pipelines[1].fitted = 7

    def fail():
        raise RuntimeError("serialization failed")

    monkeypatch.setattr(cat.pipelines[2], "to_json", fail)
    with pytest.raises(RuntimeError, match="serialization failed"):
        cat.save()
    again = PipelineCatalog(path=path)
    assert sorted(again.pipelines) == [1, 2, 3]
    assert again.pipelines[1].fitted == 0
