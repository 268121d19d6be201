"""fcrepo3_rdf_extractor_spark — a from-scratch PySpark-native
knowledge-graph construction engine with the capabilities of
Smithsonian/fcrepo3-rdf-extractor.

Layers:
- pure-Python core: ``vocab``, ``terms``, ``foxml``, ``rdfxml``, ``dc``,
  ``extract`` (no Spark imports; runs inside pandas UDFs)
- ``operators/``: vectorized extraction, filters, dedup, canonicalization,
  SPARQL (``bgp``, ``sparql``), code-KG extraction, and the corpus-curation
  operators ``jobs/curate.py`` runs (minhash/containment/line dedup,
  text quality, sampling); ``multimodal`` serves only the query
  registry's reference checks
- ``sources/``: source-table readers/synthesizers, N-Quads sink
- ``plans/``: the end-to-end extraction and code-KG pipelines +
  checkpoint/resume
- ``streaming/``: Structured Streaming variants
"""

__version__ = "0.1.0"
