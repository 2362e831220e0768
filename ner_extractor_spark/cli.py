"""spark-submit entrypoint (north rule: `spark-submit --py-files
ner_extractor_spark.zip -m` style launch).

Usage:
  spark-submit --py-files ner_extractor_spark.zip \
      -m ner_extractor_spark.cli kg \
      --pages /path/to/pages_parquet --workdir /path/to/work [--lang en]

  python -m ner_extractor_spark.cli kg --synth 200 --workdir /tmp/kg
"""

from __future__ import annotations

import argparse
import json


def resolve_run_args(args, cfg: dict) -> dict:
    """S6 precedence: CLI flags win; config supplies defaults;
    present-but-null/empty YAML keys fall back to the documented
    defaults exactly like absent keys — except ``lang``, where explicit
    null/"" legitimately means "all languages".  Pure function (unit
    tests: tests/test_config.py::test_resolve_run_args*)."""
    cfg_paths = cfg.get("paths") or {}
    pages_path = args.pages or (
        str(cfg_paths["pages"]) if cfg_paths.get("pages") else None)
    workdir = args.workdir or (
        str(cfg_paths["workdir"]) if cfg_paths.get("workdir") else None)
    cfg_synth = cfg.get("synth")
    synth_n = args.synth if args.synth is not None \
        else (0 if cfg_synth in (None, "") else int(cfg_synth))
    if args.lang is not None:
        lang_arg = args.lang
    elif "lang" in cfg:
        lang_arg = cfg["lang"] if cfg["lang"] is not None else "all"
    else:
        lang_arg = "en"
    cfg_run = cfg.get("run_id")
    run_id = args.run_id if args.run_id is not None \
        else ("run0" if cfg_run in (None, "") else str(cfg_run))
    warc = getattr(args, "warc", None) or (
        str(cfg_paths["warc"]) if cfg_paths.get("warc") else None)
    # a WARC feed carries html payloads by definition
    use_html = bool(getattr(args, "use_html", None) or cfg.get("use_html")
                    or warc)
    return {"pages": pages_path, "workdir": workdir,
            "synth": synth_n, "lang": lang_arg, "run_id": run_id,
            "use_html": use_html, "warc": warc}


def main(argv=None):
    p = argparse.ArgumentParser(prog="ner-extractor-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    kg = sub.add_parser("kg", help="run the KG construction pipeline")
    kg.add_argument("--config",
                    help="YAML config (S6): paths.pages / paths.workdir "
                         "plus lang / run_id / synth; flags override")
    kg.add_argument("--pages", help="pages table (parquet path or catalog id)")
    kg.add_argument("--synth", type=int, default=None,
                    help="synthesize N fixture pages instead of --pages")
    kg.add_argument("--workdir")
    kg.add_argument("--lang", default=None)
    kg.add_argument("--use-html", dest="use_html", action="store_true",
                    default=None,
                    help="extract text from the html column via the real "
                         "markup-aware extractor (raw-crawl inputs)")
    kg.add_argument("--warc", default=None,
                    help="read .warc/.warc.gz files under this dir as the "
                         "page source (crawl-native input; implies "
                         "--use-html)")
    kg.add_argument("--run-id", default=None)
    kg.add_argument("--linker", default="exact",
                    choices=["exact", "coherent", "embed"],
                    help="entity linker: exact (broadcast alias join), "
                         "coherent (document-context "
                         "disambiguation, corpus-derived relatedness), "
                         "or embed (exact + dense-retrieval residual "
                         "fallback: hashed char-3-gram cosine over LSH "
                         "candidates)")
    kg.add_argument("--rules", action="store_true",
                    help="mine AMIE-style rules over the canonical "
                         "triples and back-fill rule-inferred facts "
                         "(<workdir>/rules, <workdir>/inferred)")
    kg.add_argument("--export-nt", dest="export_nt", action="store_true",
                    help="also materialize the canonical triples as an "
                         "RDF N-Triples dump (<workdir>/ntriples, "
                         "partitioned text; sources/ntriples.py)")

    cu = sub.add_parser("curate",
                        help="run the corpus-curation keep/drop verdict")
    cu.add_argument("--docs", required=True,
                    help="documents parquet (doc_id, text, ...)")
    cu.add_argument("--out", required=True,
                    help="output dir for the verdict parquet")
    cu.add_argument("--calibrate", action="store_true",
                    help="derive thresholds from this corpus' quantiles "
                         "(default: documented scalar defaults)")
    cu.add_argument("--dup-threshold", type=float, default=0.9)
    cu.add_argument("--lm-threshold", type=float, default=-8.0)
    asm = sub.add_parser(
        "assemble",
        help="run the STAGED training-data assembly plan (verdict -> "
             "span clean -> chunk -> pack), resumable from --workdir")
    asm.add_argument("--docs", required=True,
                     help="documents parquet (doc_id, url, text, ...)")
    asm.add_argument("--workdir", required=True,
                     help="stage-manifest dir (resume = rerun with the "
                          "same dir)")
    asm.add_argument("--chunk-size", type=int, default=64)
    asm.add_argument("--budget", type=int, default=500)
    asm.add_argument("--no-span-dedup", action="store_true")
    asm.add_argument("--near", action="store_true",
                     help="add the MinHash near-duplicate rule")
    asm.add_argument("--blocked-domain", action="append", default=[])
    asm.add_argument("--blocked-term", action="append", default=[])
    asm.add_argument("--export-jsonl", dest="export_jsonl",
                     action="store_true",
                     help="also materialize the chunked corpus as "
                          "trainer-facing JSON Lines "
                          "(<workdir>/jsonl; sources/jsonl.py)")
    prof = sub.add_parser(
        "profile",
        help="one-pass Deequ-shape column profile of a parquet table "
             "(null rate / cardinality / bounds / width per column)")
    prof.add_argument("--table", required=True, help="parquet path")
    prof.add_argument("--columns", action="append", default=[],
                      help="restrict to these columns (repeatable)")
    prof.add_argument("--exact", action="store_true",
                      help="exact count(DISTINCT) instead of the "
                           "at-scale HLL++ default")
    args = p.parse_args(argv)

    if args.cmd == "profile":
        from ner_extractor_spark.operators.profile import profile_columns
        from ner_extractor_spark.session import get_spark
        spark = get_spark(app_name="profile")
        out = profile_columns(spark.read.parquet(args.table),
                              cols=args.columns or None,
                              approx=not args.exact)
        print(json.dumps({r["col_name"]: {k: v for k, v in
                                          r.asDict().items()
                                          if k != "col_name"}
                          for r in out.collect()}))
        spark.stop()
        return

    if args.cmd == "assemble":
        from ner_extractor_spark.operators.classifier import \
            synthetic_weights
        from ner_extractor_spark.plans.curation_pipeline import \
            run_curation_pipeline
        from ner_extractor_spark.session import get_spark
        spark = get_spark(app_name="assemble")
        docs = spark.read.parquet(args.docs)
        res = run_curation_pipeline(
            spark, docs, synthetic_weights(spark), args.workdir,
            blocked_domains=tuple(args.blocked_domain),
            blocked_terms=tuple(args.blocked_term),
            span_dedup=not args.no_span_dedup, near=args.near,
            chunk_size=args.chunk_size, budget=args.budget)
        out = {
            "docs": res.verdict.count(),
            "kept": res.verdict.filter("keep").count(),
            "chunks": res.chunks.count(),
            "bins": res.packed.select("bucket", "bin").distinct().count(),
            "workdir": args.workdir,
        }
        if args.export_jsonl:
            from pyspark.sql import functions as F

            from ner_extractor_spark.functions.text import token_count
            from ner_extractor_spark.sources.jsonl import (
                to_training_jsonl, write_training_jsonl)
            # the staged chunks table carries (chunk_uid 'doc#chunk',
            # chunk_text) — re-derive the sink's id parts + token
            # count.  Split from the RIGHT: the chunk index is always
            # the last '#' segment, while a user-supplied doc_id may
            # itself contain '#'
            ch = res.chunks.select(
                F.regexp_replace("chunk_uid", "#[^#]*$", "")
                .alias("doc_id"),
                F.substring_index("chunk_uid", "#", -1).alias("chunk_id"),
                token_count(F.col("chunk_text")).alias("n_tokens"),
                "chunk_text")
            write_training_jsonl(to_training_jsonl(ch),
                                 f"{args.workdir}/jsonl")
            out["jsonl_lines"] = (spark.read.text(f"{args.workdir}/jsonl")
                                  .count())
        print(json.dumps(out))
        spark.stop()
        return

    if args.cmd == "curate":
        from ner_extractor_spark.operators.curation import (
            calibrated_curation, curate_corpus)
        from ner_extractor_spark.session import get_spark
        spark = get_spark(app_name="curate")
        docs = spark.read.parquet(args.docs)
        if args.calibrate:
            # single shared score pass (VERDICT r04 #2)
            verdict = calibrated_curation(docs)
        else:
            verdict = curate_corpus(docs,
                                    dup_threshold=args.dup_threshold,
                                    lm_threshold=args.lm_threshold)
        verdict.write.mode("overwrite").parquet(args.out)
        kept = spark.read.parquet(args.out)
        n = kept.count()
        n_keep = kept.filter("keep").count()
        print(json.dumps({"docs": n, "kept": n_keep,
                          "dropped": n - n_keep, "out": args.out}))
        spark.stop()
        return

    # absolute imports so this file also works as a spark-submit primary
    # script (spark-submit runs it top-level, outside the package)
    from ner_extractor_spark import synth
    from ner_extractor_spark.plans.kg_pipeline import run_kg_pipeline
    from ner_extractor_spark.schemas import ALIASES, PAGES
    from ner_extractor_spark.session import get_spark

    # S6: config supplies defaults, CLI flags win
    cfg: dict = {}
    if args.config:
        from ner_extractor_spark.config import load_config
        cfg = load_config(args.config)
    run = resolve_run_args(args, cfg)
    pages_path, workdir = run["pages"], run["workdir"]
    synth_n, lang_arg, run_id = run["synth"], run["lang"], run["run_id"]
    if not workdir:
        p.error("--workdir (or config paths.workdir) is required")

    spark = get_spark(app_name="kg-pipeline")

    if run.get("warc"):
        from pyspark.sql import functions as F
        from ner_extractor_spark.sources.warc import read_warc_pages
        pages = (read_warc_pages(spark, run["warc"])
                 .withColumn("text", F.lit(None).cast("string"))
                 .withColumn("lang", F.lit(None).cast("string")))
    elif synth_n:
        pages = spark.createDataFrame(
            synth.pages_rows(synth.gold_corpus(synth_n)), schema=PAGES)
    else:
        from ner_extractor_spark.sources.pages import read_pages
        pages = read_pages(spark, pages_path)
    aliases = spark.createDataFrame(synth.alias_rows(), schema=ALIASES)

    # S7: persist the resolved run config next to the outputs (paths
    # relativized against the workdir where possible).  Best-effort: a
    # driver without PyYAML still runs the pipeline (config persistence
    # is an audit artifact, not a dependency).
    from pathlib import Path as _Path

    from ner_extractor_spark.config import save_config
    try:
        # read_pages dispatches on '/': with one it's a filesystem path
        # (absolutize so the persisted config is CWD-independent); without
        # it's a catalog table id — persist verbatim, never Path-mangled
        pages_persist = (_Path(pages_path).resolve()
                         if pages_path and "/" in pages_path else pages_path)
        save_config({
            "paths": {"pages": pages_persist or None,
                      "warc": (_Path(run["warc"]).resolve()
                               if run.get("warc") else None),
                      "workdir": _Path(workdir).resolve()},
            "lang": lang_arg, "run_id": run_id, "synth": synth_n,
            "use_html": run["use_html"],
        }, _Path(workdir) / "config.yaml")
    except NotImplementedError:
        pass  # no PyYAML on this driver

    lang = None if lang_arg in ("", "all") else lang_arg
    res = run_kg_pipeline(spark, pages, aliases, synth.tagger_dictionary(),
                          workdir, lang=lang, run_id=run_id,
                          use_html=run["use_html"],
                          linker=getattr(args, "linker", "exact"))
    out = {
        "sentences": res.sentences.count(),
        "mentions": res.mentions.count(),
        "triples": res.triples.count(),
        "workdir": workdir,
    }
    if getattr(args, "rules", False):
        # over the CANONICAL triples (post alias-linking) — mining on
        # Q-ids, not raw surfaces, so aliases don't split rule support
        from ner_extractor_spark.operators.kg_quality import (infer_facts,
                                                              mine_rules)
        rules = mine_rules(res.triples, subj_col="subj", obj_col="obj")
        rules.write.mode("overwrite").parquet(f"{workdir}/rules")
        rules = spark.read.parquet(f"{workdir}/rules")
        inferred = infer_facts(res.triples, rules, min_conf=0.5,
                               subj_col="subj", obj_col="obj")
        inferred.write.mode("overwrite").parquet(f"{workdir}/inferred")
        out["rules"] = rules.count()
        out["inferred"] = spark.read.parquet(f"{workdir}/inferred").count()
    if getattr(args, "export_nt", False):
        # canonical Q-id triples -> fact statements only (no label
        # columns post-linking; see sources/ntriples.to_ntriples)
        from ner_extractor_spark.sources.ntriples import (to_ntriples,
                                                          write_ntriples)
        nt = to_ntriples(res.triples, subj_col="subj", obj_col="obj")
        write_ntriples(nt, f"{workdir}/ntriples")
        out["nt_statements"] = (spark.read.text(f"{workdir}/ntriples")
                                .count())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
