"""fcrepo3_rdf_extractor_spark — a from-scratch PySpark-native
knowledge-graph construction engine with the capabilities of
Smithsonian/fcrepo3-rdf-extractor.

Layers:
- pure-Python core: ``vocab``, ``terms``, ``foxml``, ``rdfxml``, ``dc``,
  ``extract`` (no Spark imports; runs inside pandas UDFs)
- ``operators/``: vectorized extraction, filters, dedup, canonicalization,
  SPARQL (``bgp``, ``sparql``) and code-KG extraction (``code``); most
  of ``dedup_approx`` serves only the query registry's reference checks
- ``sources/``: source-table readers/synthesizers, N-Quads sink
- ``plans/``: the end-to-end extraction and code-KG pipelines +
  checkpoint/resume
"""

__version__ = "0.1.0"
