"""Spark pipeline stages (DataFrame in → DataFrame out).

Stage granularity IS the operator-fusion decision (SURVEY.md §4):
Catalyst cannot fuse across Python-UDF boundaries, so each stage fuses
everything that shares one Arrow pass over the data:

- ``fused``     the whole per-page OCR layer sequence (``page_path``)
- ``detect``    the sequence cut after detection: decode → resize →
                model → D1-D6 postprocess → P8 unpad → hooks
- ``recognize`` the rest over detect output: crop (the det→reco "join",
                co-resident page bytes) → wide-split → model → CTC →
                merge → builder rank
- ``build``     pure-SQL span assembly (union + window + row_number)
"""
