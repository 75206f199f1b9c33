"""address_parser_spark — a PySpark-native record-linkage / entity-resolution engine.

A from-scratch, Spark-first reimplementation of the *capabilities* of
``dathuynh1108/address-parser`` (reference read-only at ``/root/reference``):
extract → normalize → resolve → block → cluster Vietnamese address
mentions at web scale, expressed as DataFrame programs (Catalyst-optimized,
Arrow-batched pandas UDFs only where built-ins cannot express the semantics).

Layout
------
- ``textops``    pure-Python normalization / n-gram / similarity core (no Spark)
- ``gazetteer``  reference-entity catalog: synthetic generator, node explosion, alias registries
- ``functions``  Spark Column helpers + the vectorized extract and resolve UDFs
- ``operators``  resolve, blocking, identity edges, connected components, ward mapping,
                 eval, and the driver queries' dedup / ANN / text-quality / media operators
- ``sources``    synthetic pages corpus, gazetteer reader, checkpointed stages with lineage
- ``plans``      end-to-end pipeline assembly (extract→normalize→resolve→block→cluster)
"""

__version__ = "0.1.0"
